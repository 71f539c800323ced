"""Corpus-preparation operators for training-data pipelines: dataset
split, deterministic shuffle, weighted source sampling, PII redaction,
and token-budget sequence packing.

The reference has no analog (it is a single-pipeline log transformer);
these cover the "operations a large-scale training-data pipeline needs"
surface. Everything is deterministic and seedable so a DuckDB oracle can
replicate results bit-for-bit: randomness is md5-hash-derived, never
rand().

Scale notes:
- split / sample / redact are narrow (no shuffle at all);
- shuffle is ONE global sort (range-partitioned at scale — the standard
  way to fix a training order);
- packing shards the corpus and packs each shard independently: packing
  is order-dependent (inherently sequential), so the shard is the unit
  of parallelism AND of determinism.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dns_log_transformer_spark.operators.caching import persist_tracked
from dns_log_transformer_spark.operators.text import upstream_splits

#: Hash buckets for split/sampling decisions (4 decimal digits of rate).
N_BUCKETS = 10_000


def hash_bucket(col: Column, seed: int) -> Column:
    """Deterministic bucket in [0, N_BUCKETS): first 8 md5 hex chars of
    'seed:value' as an unsigned int (same recipe the dedup/minhash ops
    use — DuckDB mirrors it as CAST('0x' || substr(md5(..),1,8) AS
    BIGINT))."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), col.cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return h % N_BUCKETS


def with_split(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 42,
    train: float = 0.9,
    val: float = 0.05,
) -> DataFrame:
    """Adds ``split`` in {train, val, test} by hashing the id — stable
    under reprocessing, insertion, and re-partitioning (the properties a
    row-number split lacks). test gets the 1 - train - val remainder."""
    b = hash_bucket(F.col(id_col), seed)
    t_hi = int(train * N_BUCKETS)
    v_hi = t_hi + int(val * N_BUCKETS)
    split = (
        F.when(b < t_hi, F.lit("train"))
        .when(b < v_hi, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("split", split)


#: monotonically_increasing_id layout: partition_index * 2^33 + local row
#: index — the local index is recoverable with a modulo.
_MID_PARTITION_STRIDE = 1 << 33


def seeded_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """Global deterministic shuffle: ``shuffle_rank`` is the row's
    position in md5('seed:id') order (id tiebreak). Re-running with the
    same seed reproduces the exact training order; a different seed is a
    fresh permutation.

    The rank is computed as a two-pass global index (the zipWithIndex
    pattern), NOT a partition-less ``row_number().over(Window.orderBy)``
    — that plan funnels every row through ONE task. Here:

    1. range-partition + sort within partitions on (key, id) — a fully
       parallel global sort (partition i's keys all precede i+1's);
    2. stamp each row with its partition id and in-partition position
       (``monotonically_increasing_id`` above the sort: nondeterministic
       exprs are never pushed through it);
    3. one O(num_partitions) count job builds cumulative offsets, inlined
       as a literal map — rank = offset[partition] + local position + 1.

    The stamped intermediate is ``localCheckpoint``ed (not persisted)
    after step 2 so the count job and the final plan see identical,
    physically frozen partition boundaries — and so the blocks are freed
    by the ContextCleaner when the returned DataFrame is dropped, rather
    than pinned in the cache manager for the session (a plain persist
    here leaked storage across repeated calls). Every stage is parallel;
    driver state is one row-count per partition.
    """
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    ranked = global_rank(
        df.withColumn("_sfl_key", key),
        ["_sfl_key", id_col],
        rank_col="shuffle_rank",
        num_partitions=num_partitions,
    )
    return ranked.drop("_sfl_key")


def global_rank(
    df: DataFrame,
    sort_cols: list,
    rank_col: str = "global_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based rank in ``sort_cols`` order WITHOUT the
    single-task plan ``row_number().over(Window.orderBy(...))`` degrades
    to — the general zipWithIndex machinery behind ``seeded_shuffle``:

    1. range-partition + sort within partitions (fully parallel global
       sort: partition i's keys all precede partition i+1's);
    2. stamp partition id + in-partition position, frozen with
       ``localCheckpoint`` so the count job and the final plan see the
       same physical boundaries (and the blocks free with the DataFrame
       rather than pinning session cache);
    3. one O(num_partitions) count job -> cumulative offsets inlined as
       a literal map; rank = offset[pid] + local + 1.

    ``sort_cols`` MUST be a total order (include a unique tiebreak) or
    tied rows land nondeterministically. Driver state: one row count
    per partition.

    Partition count follows the INPUT when it out-splits the session
    default: a fixed count makes per-task sorts grow linearly with
    input (the 6x-at-10x reading in PLANS.md); upstream scan splits
    grow with input bytes (maxPartitionBytes), so
    ``max(shuffle.partitions, upstream splits)`` keeps per-task sort
    size bounded on a cluster without an extra counting job.
    """
    spark = df.sparkSession
    n_parts = num_partitions or max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        upstream_splits(df),
    )
    cols = [F.col(c) if isinstance(c, str) else c for c in sort_cols]
    stamped = (
        df.repartitionByRange(n_parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_gr_pid", F.spark_partition_id())
        .withColumn(
            "_gr_local", F.monotonically_increasing_id() % _MID_PARTITION_STRIDE
        )
        .localCheckpoint()
    )
    counts = stamped.groupBy("_gr_pid").count().collect()
    offsets: list[Column] = []
    acc = 0
    for r in sorted(counts, key=lambda r: r["_gr_pid"]):
        offsets.extend([F.lit(int(r["_gr_pid"])), F.lit(acc)])
        acc += r["count"]
    if not offsets:  # empty input: no partitions to offset
        return df.withColumn(rank_col, F.lit(None).cast("long"))
    off_map = F.create_map(*offsets)
    rank = (off_map[F.col("_gr_pid")] + F.col("_gr_local") + 1).cast("long")
    return stamped.withColumn(rank_col, rank).drop("_gr_pid", "_gr_local")


def grouped_rank(
    df: DataFrame,
    group_col: str,
    sort_cols: list,
    rank_col: str = "group_rank",
    count_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group 1-based rank in ``sort_cols`` order WITHOUT the
    single-task-per-group plan ``row_number().over(Window.partitionBy(
    group))`` degrades to when the group key has low cardinality and
    terabyte-scale members (e.g. corpus "source"): a hash-partitioned
    window funnels each group's entire corpus through ONE task, and no
    partition-count config helps.

    Shape: one ``global_rank`` over ``(group_col, *sort_cols)`` — a
    range partition on the FULL key, so one group spans many partitions
    — then per-group rank = global rank − (rows in preceding groups).
    The per-group start offset is ``min(global_rank) − 1`` per group
    (no assumption about how the range ordering compares group keys),
    collected once and inlined as a literal map.

    ``sort_cols`` MUST make ``(group_col, *sort_cols)`` a total order.
    Driver state: one (start, count) pair per group — callers use this
    for keys with bounded cardinality (sources, splits, shards), not
    per-document keys. Optional ``count_col`` attaches the group size
    from the same collected stats (for NTILE-style bucketing downstream
    without a second shuffle)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in sort_cols]
    ranked = global_rank(
        df, [F.col(group_col)] + cols, rank_col="_ggr",
        num_partitions=num_partitions,
    )
    stats = (
        ranked.groupBy(group_col)
        .agg(F.min("_ggr").alias("_s"), F.count("*").alias("_n"))
        .collect()
    )
    if not stats:  # empty input
        out = df.withColumn(rank_col, F.lit(None).cast("long"))
        if count_col:
            out = out.withColumn(count_col, F.lit(None).cast("long"))
        return out
    if any(r[group_col] is None for r in stats):
        # create_map rejects null keys at RUNTIME with an opaque error;
        # surface the contract at build time instead (the window-NTILE
        # form tolerated null partitions — callers with nullable group
        # keys must coalesce to a sentinel first)
        raise ValueError(
            f"grouped_rank: group column {group_col!r} contains NULL — "
            "coalesce to a sentinel before ranking"
        )
    start_map = F.create_map(
        *[x for r in stats for x in (F.lit(r[group_col]), F.lit(int(r["_s"]) - 1))]
    )
    out = ranked.withColumn(
        rank_col,
        (F.col("_ggr") - start_map[F.col(group_col)]).cast("long"),
    )
    if count_col:
        n_map = F.create_map(
            *[x for r in stats for x in (F.lit(r[group_col]), F.lit(int(r["_n"])))]
        )
        out = out.withColumn(count_col, n_map[F.col(group_col)].cast("long"))
    return out.drop("_ggr")


def ntile_from_rank(rank: Column, n: Column, k: int) -> Column:
    """Exact NTILE(k) bucket from a 1-based ``rank`` and group size
    ``n`` — the SQL-standard allocation: with n = q*k + r, the first r
    buckets hold q+1 rows, the rest q. Lets rank-based plans (e.g.
    ``grouped_rank``) reproduce window-NTILE output bit-for-bit without
    a WindowExec."""
    q = F.floor(n / k).cast("long")
    rem = (n % k).cast("long")
    big = rem * (q + 1)  # rows living in the larger (q+1)-row buckets
    return F.when(rank <= big, F.ceil(rank / (q + 1))).otherwise(
        rem + F.ceil((rank - big) / F.greatest(q, F.lit(1)))
    ).cast("long")


def weighted_sample(
    df: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 7,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-source Bernoulli sampling at the mixing rates a training blend
    specifies: keep a row iff hash_bucket(id) < rate[source] * N_BUCKETS.
    Deterministic (same ids survive every run) and narrow (a filter, no
    shuffle, no sort). Unlisted sources get ``default_rate``."""
    rate = F.lit(int(default_rate * N_BUCKETS))
    for src, r in sorted(rates.items()):
        rate = F.when(F.col(source_col) == src, F.lit(int(r * N_BUCKETS))).otherwise(
            rate
        )
    return df.filter(hash_bucket(F.col(id_col), seed) < rate)


def _cap_survivors(
    df: DataFrame,
    k: int,
    source_col: str,
    key_col: str,
    margin: int = 4,
    max_rounds: int = 8,
) -> DataFrame:
    """Hash-threshold pre-filter for :func:`capped_sample_per_source`:
    returns a subset of ``df`` guaranteed to contain every source's k
    smallest (key, id) rows, with expected ~margin*k survivors per
    capped source.

    Phase 1 counts rows per source (map-side combined; O(#sources)
    driver rows). A source with n > margin*k rows gets a numeric
    threshold on the key's first 8 hex chars keeping an expected
    margin*k rows; smaller sources pass through whole. Because the full
    ordering is (hex key asc, id asc) and the threshold cuts on a PREFIX
    of that key, any row outside the survivor set sorts after every
    survivor — so as long as a source retains >= min(k, n) survivors,
    its true top-k is inside the set. That floor is VERIFIED with a
    second count; on a shortfall (hash-uniformity tail odds) the margin
    doubles and the filter is recomputed, so the result is exact, not
    probabilistic.
    """
    prefix = F.conv(F.substring(F.col(key_col), 1, 8), 16, 10).cast("long")
    counts = {
        r["src"]: r["n"]
        for r in df.groupBy(F.col(source_col).alias("src"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    full = 1 << 32
    for _ in range(max_rounds):
        capped = {
            s: min(full, -(-(margin * k) * full // n))  # ceil(margin*k/n * 2^32)
            for s, n in counts.items()
            if n > margin * k
        }
        if not capped:
            return df
        thr_df = df.sparkSession.createDataFrame(
            [(s, t) for s, t in sorted(capped.items())],
            f"{source_col} string, _cap_thr long",
        )
        survivors = (
            df.withColumn("_cap_prefix", prefix)
            .join(F.broadcast(thr_df), source_col, "left")
            .filter(
                F.col("_cap_thr").isNull()
                | (F.col("_cap_prefix") <= F.col("_cap_thr"))
            )
            .drop("_cap_prefix", "_cap_thr")
        )
        kept = {
            r["src"]: r["n"]
            for r in survivors.groupBy(F.col(source_col).alias("src"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if all(kept.get(s, 0) >= min(k, counts[s]) for s in capped):
            return survivors
        margin *= 2  # shortfall: widen and re-derive (rare)
    raise RuntimeError(
        "capped_sample_per_source: survivor floor not met after "
        f"{max_rounds} margin doublings — non-uniform key hash?"
    )


def capped_sample_per_source(
    df: DataFrame,
    k: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 13,
) -> DataFrame:
    """At most ``k`` docs per source, drawn uniformly and deterministically
    (the batch equivalent of per-key reservoir sampling): rank rows within
    each source by a seeded hash and keep rank <= k. Adds ``sample_rank``
    (1-based).

    Skew shape: real corpora are source-skewed (one web crawl can be 90%
    of rows), and a bare ``Window.partitionBy(source)`` sorts each
    source's ENTIRE data in one task. Instead, a hash-threshold
    pre-filter (:func:`_cap_survivors`) first cuts every heavy source
    down to ~4k expected survivors as a narrow broadcast-join filter —
    verified to retain each source's true top-k, escalating the margin
    on a shortfall — and only the survivors are ranked. The window input
    is O(k) per source regardless of skew; output is byte-identical to
    ranking the full data.
    """
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    keyed = df.withColumn("_cap_key", key)
    survivors = _cap_survivors(keyed, k, source_col, "_cap_key")
    w = Window.partitionBy(source_col).orderBy(F.col("_cap_key"), F.col(id_col))
    return (
        survivors.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= k)
        .drop("_cap_key")
    )


def chunk_windows(
    df: DataFrame,
    size: int,
    stride: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window chunking for context-length-bounded consumers:
    token windows of ``size`` starting every ``stride`` tokens (overlap =
    size - stride). A narrow 1->N explode — no shuffle, no Python.
    Empty docs yield no chunks. Output: (id, chunk_no, chunk_start,
    n_chunk_tokens, chunk_text)."""
    if stride <= 0 or size <= 0:
        raise ValueError(f"size and stride must be positive, got {size}, {stride}")
    # tokens() referenced by several exprs below — materialize it as a
    # top-level projection alias first (PLANS.md rule 1)
    from dns_log_transformer_spark.operators.text import tokens

    toked = df.select(
        "*", tokens(F.col(text_col)).alias("_toks")
    ).select("*", F.size("_toks").alias("_n"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("_n") - 1, F.lit(0)), F.lit(stride)
    )
    exploded = toked.filter(F.col("_n") > 0).select(
        "*", F.posexplode(starts).alias("chunk_no", "chunk_start")
    )
    chunk = F.slice(F.col("_toks"), F.col("chunk_start") + 1, size)
    return exploded.select(
        id_col,
        F.col("chunk_no").cast("long").alias("chunk_no"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


#: (pattern, replacement) chain applied IN ORDER — order matters (an
#: email's digits must not survive as a "long number" match). Patterns
#: avoid lookaround/backrefs so Java regex (Spark) and RE2 (DuckDB)
#: agree byte-for-byte.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("longnum", r"[0-9]{9,}", "<NUM>"),
)


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Sequential PII scrub over a text column: emails, IPv4 addresses,
    then 9+-digit runs, each counted on the text it actually sees (an
    email's digits are gone before the number pass). Adds
    ``redacted`` plus ``n_<kind>`` counts.

    Each stage is its own top-level projection: counting and replacing
    reference the same intermediate, and a nested single-select would
    re-evaluate the whole upstream regex chain per reference (CaseWhen/
    HOF-style duplication, PLANS.md rule 1)."""
    out = df.withColumn("redacted", F.col(text_col))
    for kind, pat, repl in PII_PATTERNS:
        out = out.select(
            "*",
            F.regexp_count(F.col("redacted"), F.lit(pat))
            .cast("long")
            .alias(f"n_{kind}"),
        ).withColumn("redacted", F.regexp_replace("redacted", pat, repl))
    return out


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    n_shards: int = 8,
) -> DataFrame:
    """Next-fit sequence packing: walk docs in id order, appending to the
    current bin until the next doc would exceed ``budget`` tokens, then
    open a new bin (an oversized doc gets a bin of its own). The packing
    walk is inherently sequential, so the corpus is sharded by
    ``id % n_shards`` and each shard packs independently —
    ``applyInPandas`` per shard, one shuffle. Set n_shards ~ cluster
    cores at scale; results are deterministic for a given n_shards.

    Output: (id, shard, bin_in_shard, tokens) — consumers concat bin
    members (shard, bin_in_shard) into one training sequence.
    """
    schema = f"{id_col} long, shard long, bin_in_shard long, tokens long"

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        bins = []
        bin_id, acc = 0, 0
        for tok in pdf[tokens_col]:
            tok = int(tok)
            if acc > 0 and acc + tok > budget:
                bin_id, acc = bin_id + 1, 0
            acc += tok
            bins.append(bin_id)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].values,
                "shard": pdf["shard"].values,
                "bin_in_shard": bins,
                "tokens": pdf[tokens_col].astype("int64").values,
            }
        )

    sharded = df.select(
        id_col, tokens_col, (F.col(id_col) % n_shards).alias("shard")
    )
    return sharded.groupBy("shard").applyInPandas(_pack, schema=schema)


def write_packed_shards(
    docs: DataFrame,
    assignments: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
) -> dict[str, int]:
    """Materialize :func:`pack_sequences` assignments as actual training
    shards on disk — the last step of the corpus funnel. Each
    (shard, bin_in_shard) group becomes ONE sequence row: member texts
    concatenated in ``id`` order with ``sep``, plus the member-id array
    and token total; rows are written parquet, ``partitionBy(shard)``,
    one file per shard directory. (Complementary to
    ``storage.bucketing.write_training_shards``, which shuffles RAW doc
    rows into shard dirs — this writes budget-PACKED sequences, the
    shape a fixed-context training loader consumes.)

    Publish is atomic with the compact_partitioned_table discipline:
    write to ``<out>.staging``, then swap via two renames with a
    ``.old`` recovery marker (a leftover ``.old`` from a crashed
    publish is REFUSED, never guessed around), and the session's
    FileStatusCache is invalidated for the swapped path (the r14
    monitor-store lesson — stale listings fail later reads).

    Scale shape: one shuffle (groupBy the bin key); per-group state is
    bounded by the packing budget (a bin holds <= budget tokens of
    text), so collect_list cannot accumulate unbounded rows; the
    per-shard repartition gives one write task per shard — at cluster
    scale set n_shards ~ cores when packing, and shard directories are
    the unit a training loader reads.

    Returns {"n_sequences", "n_shards", "n_docs"}.
    """
    import os
    import shutil

    if not out_dir.startswith("/") or out_dir.startswith("/root/testdata"):
        raise ValueError(f"refusing shard write to {out_dir!r}")
    spark = docs.sparkSession
    member = F.struct(F.col(id_col), F.col(text_col))
    seqs = (
        assignments.join(docs.select(id_col, text_col), id_col)
        .groupBy("shard", "bin_in_shard")
        .agg(
            F.array_sort(F.collect_list(member)).alias("_m"),
            F.sum("tokens").cast("long").alias("n_tokens"),
        )
        .select(
            "shard",
            F.col("bin_in_shard").alias("seq_in_shard"),
            F.transform("_m", lambda m: m[id_col]).alias("doc_ids"),
            F.concat_ws(sep, F.transform("_m", lambda m: m[text_col])).alias(
                "text"
            ),
            "n_tokens",
        )
    )
    old = out_dir.rstrip("/") + ".old"
    if os.path.exists(old):
        raise FileExistsError(
            f"leftover {old} from a crashed shard publish — recover it "
            "(rename back or delete) before writing again"
        )
    tmp = out_dir.rstrip("/") + ".staging"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        seqs.repartition(F.col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(tmp)
    )
    if os.path.exists(out_dir):
        os.rename(out_dir, old)
    os.rename(tmp, out_dir)  # crash between these: recover from .old
    shutil.rmtree(old, ignore_errors=True)
    spark.catalog.refreshByPath(out_dir)
    written = spark.read.parquet(out_dir)
    n_seq, n_docs = written.agg(
        F.count("*"), F.sum(F.size("doc_ids"))
    ).first()
    n_shards = sum(
        1 for e in os.listdir(out_dir) if e.startswith("shard=")
    )
    return {
        "n_sequences": int(n_seq),
        "n_shards": n_shards,
        "n_docs": int(n_docs or 0),
    }


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination by word n-gram collision (the GPT-3 /
    Llama recipe: a training doc is contaminated if any of its n-grams
    appears in a held-out eval set).

    Every corpus doc gets ``n_shingles`` (distinct n-grams), ``n_hits``
    (how many appear in the benchmark's shingle set), ``contam_frac``
    and the ``is_contaminated`` drop flag (any hit).

    Shape at scale: the benchmark side is tiny relative to the corpus,
    so its distinct shingle set is BROADCAST — the corpus side is one
    narrow shingle-explode plus a single (id) aggregation; the corpus is
    never shuffled on the shingle key and never self-joined.
    explode_outer keeps sub-n-token docs in the output with zero counts.
    """
    from dns_log_transformer_spark.operators.dedup import with_shingles

    corpus_sh = with_shingles(df, id_col, text_col, n)
    posting = corpus_sh.select(
        id_col, "n_shingles", F.explode_outer("shingles").alias("shingle")
    )
    bench_set = (
        with_shingles(benchmark, bench_id_col, bench_text_col, n)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    per_doc = (
        posting.join(F.broadcast(bench_set), "shingle", "left")
        .groupBy(id_col, "n_shingles")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_hits"))
    )
    return per_doc.select(
        id_col,
        F.col("n_shingles").cast("long").alias("n_shingles"),
        "n_hits",
        F.when(
            F.col("n_shingles") > 0,
            F.round(F.col("n_hits") / F.col("n_shingles"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("contam_frac"),
        (F.col("n_hits") > 0).alias("is_contaminated"),
    )


def bloom_decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    k: int | None = None,
    m_bits: int | None = None,
) -> DataFrame:
    """Benchmark decontamination via a Bloom bitset instead of an exact
    broadcast shingle set.

    `decontaminate` broadcasts the benchmark's DISTINCT n-grams as
    strings — fine while the eval suite is small, but a many-benchmark
    suite at 100 TB can carry tens of millions of distinct 8-grams,
    and the broadcast grows with it. This variant compresses the set to
    a CONSTANT m_bits-bit Bloom filter (8 KB at the default): the probe
    is k element_at + bit_get tests riding the corpus scan inside one
    whole-stage-codegen projection — zero joins, zero shuffle on the
    corpus side before the per-doc aggregation, and the driver/broadcast
    cost is fixed by the m_bits PARAMETER, never the benchmark size.

    One-sided error: `n_maybe_hits >= n_hits` per doc and
    `maybe_contaminated` is a superset of `is_contaminated`
    (tests/test_sketches.py pins both against `decontaminate`) — the
    right direction for decontamination, where a false positive drops a
    training doc and a false negative would leak eval data.

    Output: (id_col, n_shingles, n_maybe_hits, maybe_contaminated).
    """
    from dns_log_transformer_spark.operators.dedup import with_shingles
    from dns_log_transformer_spark.operators.sketches import (
        BLOOM_BITS,
        BLOOM_K,
        _bloom_h1h2,
        bloom_bits_collect,
        bloom_hit_from_hashes,
    )

    k = BLOOM_K if k is None else k
    m_bits = BLOOM_BITS if m_bits is None else m_bits

    bench_set = (
        with_shingles(benchmark, bench_id_col, bench_text_col, n)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    words = bloom_bits_collect(bench_set, "shingle", k, m_bits)
    return decontaminate_against(df, words, n, id_col, text_col, k, m_bits)


def decontaminate_against(
    df: DataFrame,
    words: list[int],
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
    m_bits: int | None = None,
) -> DataFrame:
    """The probe half of ``bloom_decontaminate``, against an ALREADY
    MATERIALIZED bitset (e.g. the streaming-maintained filter table,
    streaming/bloom_sink.py): k codegen bit tests riding the corpus
    scan, zero joins. Same output contract as ``bloom_decontaminate``."""
    from dns_log_transformer_spark.operators.dedup import with_shingles
    from dns_log_transformer_spark.operators.sketches import (
        BLOOM_BITS,
        BLOOM_K,
        _bloom_h1h2,
        bloom_hit_from_hashes,
    )

    k = BLOOM_K if k is None else k
    m_bits = BLOOM_BITS if m_bits is None else m_bits

    corpus_sh = with_shingles(df, id_col, text_col, n)
    posting = corpus_sh.select(
        id_col, "n_shingles", F.explode_outer("shingles").alias("shingle")
    )
    h1, h2 = _bloom_h1h2(F.col("shingle"))
    # md5 materialized once top-level; the k bit tests reuse _h1/_h2
    hashed = posting.select(
        id_col, "n_shingles", h1.alias("_h1"), h2.alias("_h2")
    )
    probed = hashed.select(
        id_col,
        "n_shingles",
        F.coalesce(
            bloom_hit_from_hashes(F.col("_h1"), F.col("_h2"), words, k, m_bits),
            F.lit(False),
        ).alias("_hit"),
    )
    per_doc = (
        probed.groupBy(id_col, "n_shingles")
        .agg(F.sum(F.col("_hit").cast("long")).alias("n_maybe_hits"))
    )
    return per_doc.select(
        id_col,
        F.col("n_shingles").cast("long").alias("n_shingles"),
        "n_maybe_hits",
        (F.col("n_maybe_hits") > 0).alias("maybe_contaminated"),
    )


def bloom_verified_decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    k: int | None = None,
    m_bits: int | None = None,
    with_probe_stats: bool = False,
) -> DataFrame:
    """EXACT decontamination computed through a Bloom pre-filter — the
    two-stage shape a 100 TB pipeline actually runs:

    1. the constant-size bitset rides the full corpus scan (join-free,
       `bloom_decontaminate`) and splits docs into maybe-contaminated
       suspects and certainly-clean rest (no false negatives, so the
       rest needs NO further work);
    2. only the suspects — a small fraction at any realistic
       contamination rate — pay the exact broadcast-set verification
       join, and the certainly-clean docs emit zero-hit rows directly
       from the stage-1 aggregates.

    Output is IDENTICAL to `decontaminate` (same columns, same values;
    the oracle is literally the exact operator's SQL), which is the
    point: the sketch changes the PLAN, not the answer.
    """
    bloomed = bloom_decontaminate(
        df, benchmark, n, id_col, text_col, bench_id_col, bench_text_col,
        k=k, m_bits=m_bits,
    )
    bloomed = persist_tracked(bloomed)
    suspects = df.join(
        bloomed.filter(F.col("maybe_contaminated")).select(id_col),
        id_col,
    )
    verified = decontaminate(
        suspects, benchmark, n, id_col, text_col, bench_id_col, bench_text_col
    )
    clean = bloomed.filter(~F.col("maybe_contaminated")).select(
        id_col,
        F.col("n_shingles"),
        F.lit(0).cast("long").alias("n_hits"),
        F.lit(0.0).alias("contam_frac"),
        F.lit(False).alias("is_contaminated"),
    )
    out = verified.unionByName(clean)
    if with_probe_stats:
        # attach the probe-stage counts beside the verified values —
        # bloomed is already persisted above, so this is one id-keyed
        # join against cached rows, and the one-sided-error containment
        # (n_maybe_hits >= n_hits) becomes visible per row
        out = out.join(
            bloomed.select(id_col, "n_maybe_hits", "maybe_contaminated"),
            id_col,
        ).select(
            id_col, "n_shingles", "n_maybe_hits", "maybe_contaminated",
            "n_hits", "contam_frac", "is_contaminated",
        )
    return out


def span_dedup(
    df: DataFrame,
    span_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style duplicate-span removal: cut every doc into consecutive
    ``span_tokens``-token spans, keep only the corpus-wide FIRST
    occurrence of each distinct span (lowest (id, span_idx)), and report
    per-doc survival. C4 does this at line granularity ("we removed any
    duplicate three-sentence span"); span = fixed token window here
    because the unit is configurable, not newline-bound.

    Scale shape: first-occurrence is groupBy(span_text).agg(min(struct))
    — a map-side-combined aggregate, so a span duplicated a billion
    times still ships ONE candidate per map partition (a window over
    span_text would put that span's every instance in one task). The
    join back is an equi-join on the same key Catalyst already
    partitioned, then one (id) aggregation. No driver state.

    Output: (id, n_spans, n_kept, kept_text) where kept_text is the
    doc's surviving spans in order.
    """
    from dns_log_transformer_spark.operators.text import tokens

    toked = df.select(
        id_col, tokens(F.col(text_col)).alias("_toks")
    ).select(id_col, "_toks", F.size("_toks").alias("_n"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("_n") - 1, F.lit(0)), F.lit(span_tokens)
    )
    spans = (
        toked.filter(F.col("_n") > 0)
        .select(id_col, "_toks", F.posexplode(starts).alias("span_idx", "_start"))
        .select(
            id_col,
            F.col("span_idx").cast("long").alias("span_idx"),
            F.array_join(
                F.slice(F.col("_toks"), F.col("_start") + 1, span_tokens), " "
            ).alias("span_text"),
        )
    )
    first = spans.groupBy("span_text").agg(
        F.min(F.struct(id_col, "span_idx")).alias("_first")
    )
    flagged = spans.join(first, "span_text").select(
        id_col,
        "span_idx",
        "span_text",
        (
            (F.col("_first")[id_col] == F.col(id_col))
            & (F.col("_first.span_idx") == F.col("span_idx"))
        ).alias("_kept"),
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(F.col("_kept").cast("long")).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_kept"),
                                F.struct("span_idx", "span_text"),
                            )
                        )
                    ),
                    lambda s: s["span_text"],
                ),
                " ",
            ).alias("kept_text"),
        )
    )


def winnow_span_dedup(
    df: DataFrame,
    k: int = 8,
    w: int = 4,
    min_anchors: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """VARIABLE-length repeated-span detection via winnowing anchors —
    the boilerplate the fixed-n span pass (:func:`span_dedup`) misses:
    a shared region of ANY length yields a chain of shared winnowing
    anchors, and merging overlapping/adjacent anchor intervals recovers
    the maximal repeated span without choosing n up front (the
    suffix-array result approximated with the winnowing guarantee: any
    shared run of >= k + w - 1 chars selects at least one common
    anchor).

    Pipeline, all exactly SQL-expressible:
    1. anchors(doc, pos, fp) from :func:`text.winnow_anchors`;
    2. shared fps = anchors appearing in >= 2 DISTINCT docs — detected
       with ``min(doc_id) != max(doc_id)`` (one map-side-combined
       aggregation; no count-distinct, no window);
    3. per doc, merge shared-anchor char intervals [pos, pos+k-1] into
       maximal spans with the gaps-and-islands pattern: a new island
       starts where pos exceeds the running max end + 1.

    Scale shape: anchor extraction rides the scan (array ops, no
    Python); step 2 is a hash agg + semi-join on fp (the same key, one
    shuffle each side); step 3's windows partition by doc id — key
    cardinality scales with the corpus while per-doc anchor counts stay
    bounded by doc length. Nothing all-pairs, no driver state.

    Output: (id_col, span_start, span_len, n_anchors), one row per
    maximal shared span with >= ``min_anchors`` anchors (single-anchor
    spans are the fixed-k signal; the multi-anchor ones are the
    variable-length boilerplate this operator exists for). Positions
    are 1-based char offsets into the normalized text.
    """
    from dns_log_transformer_spark.operators.text import winnow_anchors_arrow

    # the Arrow anchor extractor — pinned exactly equal to the Catalyst
    # winnow_anchors and ~4x cheaper (anchor extraction was 60% of this
    # operator's cost as two interpreted higher-order-function passes)
    anchors = persist_tracked(
        winnow_anchors_arrow(df, id_col=id_col, text_col=text_col, k=k, w=w)
    )
    shared = (
        anchors.groupBy("fp")
        .agg(F.min(id_col).alias("_mn"), F.max(id_col).alias("_mx"))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("fp")
    )
    sa = anchors.join(shared, "fp", "left_semi")
    return merge_anchor_spans(sa, id_col=id_col, k=k, min_anchors=min_anchors)


def merge_anchor_spans(
    sa: DataFrame,
    id_col: str = "doc_id",
    k: int = 8,
    min_anchors: int = 2,
) -> DataFrame:
    """Step 3 of :func:`winnow_span_dedup` as a reusable piece (the
    streaming winnow index re-runs it per affected doc): merge a doc's
    shared-anchor char intervals [pos, pos+k-1] into maximal spans with
    the gaps-and-islands pattern — a new island starts where pos
    exceeds the running max end + 1. Input: (id_col, pos, fp) rows of
    SHARED anchors only; the window partitions by doc id."""
    ws = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        ws.rowsBetween(Window.unboundedPreceding, -1)
    )
    newf = F.when(
        prev_end.isNull() | (F.col("pos") > prev_end + 1), 1
    ).otherwise(0)
    island = F.sum("_new").over(ws.rowsBetween(Window.unboundedPreceding, 0))
    return (
        sa.withColumn("_new", newf)
        .withColumn("_isl", island)
        .groupBy(id_col, "_isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).cast("long").alias("span_len"),
            F.count(F.lit(1)).cast("long").alias("n_anchors"),
        )
        .filter(F.col("n_anchors") >= min_anchors)
        .select(id_col, "span_start", "span_len", "n_anchors")
    )


#: Feature-hash buckets for DSIR importance weights.
DSIR_BUCKETS = 1024


def dsir_weights(
    df: DataFrame,
    target_filter: Column,
    buckets: int = DSIR_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
    smoothing: int = 1,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): hash each doc's
    word bigrams into ``buckets`` features, build target vs raw unigram-
    of-features histograms, and score each doc by how target-like its
    features are. Docs scoring high are up-sampled when assembling a
    domain-targeted training mix.

    Integer formulation for engine-exactness: instead of summing
    per-feature log-likelihood ratios (float fold-order would diverge
    between engines), the score is the ratio of two EXACT integer sums —
    sum over the doc's bigram instances of (target_count[f] + s) and of
    (raw_count[f] + s) — divided once at the end (a single IEEE division
    both engines round identically). Monotone in the same direction as
    the log formulation for docs of equal length.

    Scale shape: one bigram fan-out (compiled ml.NGram, not an
    interpreted transform() lambda — PLANS.md rule 3 — behind
    rebalance_for_fanout so an under-split scan doesn't serialize the
    md5-per-gram stage), one histogram aggregation that
    map-side-combines to ``buckets`` rows and broadcasts, one (id)
    aggregation. The hashed gram table feeds both the histogram and the
    scoring join, so it is persisted (rule 4). Driver holds nothing.

    Output: (id, n_grams, target_mass, raw_mass, weight).
    """
    from pyspark.ml.feature import NGram

    from dns_log_transformer_spark.operators.text import (
        rebalance_for_fanout,
        tokens,
    )

    # coalesce: a NULL-evaluating filter (e.g. NULL lang) would make
    # sum(_is_target) NULL for all-NULL feature groups and NULL then
    # propagates through target_mass, silently dropping those grams —
    # while the oracle's CASE WHEN counts them as 0. NULL == not target.
    toked = rebalance_for_fanout(
        df.select(
            F.col(id_col),
            F.coalesce(target_filter, F.lit(False)).alias("_is_target"),
            F.col(text_col),
        )
    ).select(id_col, "_is_target", tokens(F.col(text_col)).alias("_toks"))
    grams = (
        NGram(n=2, inputCol="_toks", outputCol="_grams")
        .transform(toked)
        .select(id_col, "_is_target", F.explode("_grams").alias("_gram"))
        .select(
            id_col,
            "_is_target",
            (
                F.conv(F.substring(F.md5(F.col("_gram")), 1, 8), 16, 10).cast(
                    "long"
                )
                % buckets
            ).alias("_f"),
        )
        .transform(persist_tracked)
    )
    hist = grams.groupBy("_f").agg(
        F.sum(F.col("_is_target").cast("long")).alias("_t_cnt"),
        F.count(F.lit(1)).alias("_r_cnt"),
    )
    scored = grams.join(F.broadcast(hist), "_f").groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(F.col("_t_cnt") + smoothing).cast("long").alias("target_mass"),
        F.sum(F.col("_r_cnt") + smoothing).cast("long").alias("raw_mass"),
    )
    return scored.select(
        id_col,
        "n_grams",
        "target_mass",
        "raw_mass",
        F.round(F.col("target_mass") / F.col("raw_mass"), 4).alias("weight"),
    )


def temperature_sample(
    df: DataFrame,
    total: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 29,
) -> DataFrame:
    """Temperature-balanced source sampling (the multilingual-LM mixing
    recipe, alpha = 0.5): source s gets a quota proportional to
    sqrt(n_s), so heavy sources are down-weighted and light sources
    up-weighted relative to natural frequency, then each source
    contributes its quota of hash-ranked docs.

    Determinism for the oracle: sqrt is IEEE-correctly-rounded in both
    engines, each sqrt is rounded to 6 decimals and summed as DECIMAL
    (exact, order-independent), and the quota is
    max(1, floor(total * srt_s / srt_sum)) evaluated in double — every
    step identical in Spark, Python (driver), and DuckDB.

    Scale shape: per-source counts map-side-combine to O(#sources) rows
    (the only driver state); selection reuses the skew-immune
    hash-threshold pre-filter from :func:`capped_sample_per_source`, so
    no source's full data ever sorts in one task.

    Output: input columns + sample_rank (1-based within source).
    """
    from decimal import Decimal
    import math

    counts = {
        r["src"]: r["n"]
        for r in df.groupBy(F.col(source_col).alias("src"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not counts:
        return df.withColumn("sample_rank", F.lit(1).cast("long")).limit(0)
    srt = {s: Decimal(str(round(math.sqrt(n), 6))) for s, n in counts.items()}
    denom = float(sum(srt.values()))
    quota = {
        s: max(1, math.floor(total * float(v) / denom)) for s, v in srt.items()
    }
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    keyed = df.withColumn("_cap_key", key)
    survivors = _cap_survivors(keyed, max(quota.values()), source_col, "_cap_key")
    quota_df = df.sparkSession.createDataFrame(
        [(s, q) for s, q in sorted(quota.items())],
        f"{source_col} string, _quota long",
    )
    w = Window.partitionBy(source_col).orderBy(F.col("_cap_key"), F.col(id_col))
    return (
        survivors.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .join(F.broadcast(quota_df), source_col)
        .filter(F.col("sample_rank") <= F.col("_quota"))
        .drop("_cap_key", "_quota")
    )


def token_budget_select(
    df: DataFrame,
    budget_tokens: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Best-first selection under a per-source token budget — the "fill
    my 1B-token mixture with each source's best documents" step that
    sits between quality scoring and training-shard writing.

    Docs are taken in (quality_score DESC, id) order per source until
    the running token total would pass ``budget_tokens``: one window
    cumulative sum per source partition (running sums parallelize per
    source; the order key is unique so selection is reproducible), one
    filter. No joins, no driver state.

    Output: (source_col, id_col, quality_score, n_tokens, cum_tokens)
    for every selected doc.
    """
    from dns_log_transformer_spark.operators.text import with_quality_score

    scored = with_quality_score(df, text_col).select(
        source_col, id_col, "quality_score", "n_tokens"
    )
    w = (
        Window.partitionBy(source_col)
        .orderBy(F.desc("quality_score"), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .filter(F.col("cum_tokens") <= budget_tokens)
    )


def negative_pairs(
    df: DataFrame,
    k: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """k pseudo-random contrastive NEGATIVES per document — training-pair
    generation without sampling nondeterminism or a cross join.

    Ids densify to 1..n with ``global_rank`` (the parallel zipWithIndex;
    ids need not be contiguous), then partner j of a doc is the md5-
    derived rank 1 + h(j, id) % n (self-collisions remap to the next
    rank). Pair materialization is one equi-join on the partner rank —
    k rows per doc through the shuffle, never the n^2 pair space.
    Degenerate n=1 corpora yield self-pairs by construction (documented,
    not guarded).

    Output: (id_col, j, neg_id).
    """
    ids = df.select(id_col)
    ranked = persist_tracked(
        global_rank(ids, [F.asc(id_col)], rank_col="_rk")
    )
    n = ranked.count()  # one bounded job; the mod needs the corpus size
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("_j").cast("string"),
                    F.lit(":"),
                    F.col(id_col).cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    # _p0 materializes as a top-level projection alias BEFORE the
    # CaseWhen remap references it (condition + both branches) — the
    # md5/conv chain would otherwise re-evaluate per reference
    # (PLANS.md rule 1: subexpression elimination does not cross
    # CaseWhen branches)
    probes = (
        ranked.select(
            id_col, "_rk", F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("_j")
        )
        .withColumn("_p0", (h % n) + 1)
        .withColumn(
            "_prk",
            F.when(
                F.col("_p0") == F.col("_rk"), (F.col("_p0") % n) + 1
            ).otherwise(F.col("_p0")),
        )
    )
    b = ranked.select(F.col("_rk").alias("_prk"), F.col(id_col).alias("neg_id"))
    return (
        probes.join(b, "_prk")
        .select(id_col, F.col("_j").cast("int").alias("j"), "neg_id")
    )


def source_scorecard(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 8,
    k: int | None = None,
    m_bits: int | None = None,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Per-source corpus triage scorecard — the keep/re-crawl/drop view:
    doc count, EXACT benchmark-contamination count (through the Bloom
    pre-filter), exact-dup docs (normalized-md5 fingerprint held by
    >= 2 docs), near-dup docs (member of any capped MinHash-LSH pair),
    contamination pct. Composition of three individually-attested
    pipelines assembled with per-doc flags and ONE conditional-agg
    groupBy(source); shared by the registered batch query
    (queries/corpus.py, DuckDB-oracle-attested) and the streaming
    corpus monitor's pin test (streaming/corpus_monitor.py)."""
    from dns_log_transformer_spark.operators import dedup, text

    docs = persist_tracked(docs)
    decon = bloom_verified_decontaminate(
        docs, bench, n=n, id_col=id_col, text_col=text_col, k=k, m_bits=m_bits
    ).select(id_col, "is_contaminated")
    # NULL-text fingerprints coalesce to '' on BOTH engines: Spark's
    # window groups NULLs together while DuckDB's USING(f) join drops
    # them (queries/corpus.py's oracle mirrors this coalesce)
    wfp = Window.partitionBy("_f")
    exdup = (
        text.with_fingerprint(docs, text_col=text_col)
        .select(id_col, F.coalesce("fingerprint", F.lit("")).alias("_f"))
        .withColumn("is_exdup", F.count("*").over(wfp) >= 2)
        .select(id_col, "is_exdup")
    )
    bucket_cap = dedup.LSH_BUCKET_CAP if bucket_cap is None else bucket_cap
    pairs = persist_tracked(
        dedup.minhash_lsh_pairs(
            docs,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            bucket_cap=bucket_cap,
        )
    )
    near = (
        pairs.select(F.col("doc_a").alias(id_col))
        .unionByName(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
        .withColumn("is_near", F.lit(True))
    )
    return scorecard_from_flags(
        docs.select(id_col, F.col(source_col).alias("source"))
        .join(decon, id_col)
        .join(exdup, id_col)
        .join(near, id_col, "left")
    )


def scorecard_from_flags(flagged: DataFrame) -> DataFrame:
    """The final conditional-agg layer over per-doc flag rows
    (source, is_contaminated, is_exdup, is_near-nullable) — split out
    so the streaming monitor's read-side report aggregates its stores
    through the IDENTICAL expressions."""
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("is_contaminated").cast("long"))
        .cast("bigint")
        .alias("n_contaminated"),
        F.sum(F.col("is_exdup").cast("long")).cast("bigint").alias("n_exact_dup"),
        F.sum(F.coalesce(F.col("is_near"), F.lit(False)).cast("long"))
        .cast("bigint")
        .alias("n_near_dup"),
        F.round(
            F.sum(F.col("is_contaminated").cast("long")) * 100.0
            / F.count(F.lit(1)),
            4,
        ).alias("contam_pct"),
    )
