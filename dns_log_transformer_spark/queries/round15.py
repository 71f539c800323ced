"""Round-15 additions (VERDICT r14 directives #1, #3, #4).

- ``sim_ivf_tradeoff`` — IVF's tuning query: recall-vs-cost per probed
  cell count at the auto-scaled n_cells, one tagged pass against the
  brute-force truth (the blocking_tradeoff / matryoshka pattern on the
  knob an ANN operator tunes first);
- ``corpus_warcgz_files`` — real ``.warc.gz`` FILES read from disk via
  ``spark.read.format("binaryFile")`` into the attested gz-member
  split + byte walk (the last layer between disk and the stack);
- ``corpus_warcgz_to_shards`` — the north-star capstone: blobs ->
  member split -> payload text -> quality gates -> exact + near dedup
  -> decontamination -> token packing, one funnel row per stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dns_log_transformer_spark.queries.registry import register, table
from dns_log_transformer_spark.queries.round13 import _MB_SUFFIX

_IVF_T_PROBES: tuple[int, ...] = (1, 2, 4, 8)
_IVF_T_K = 5


def _ivf_tradeoff_oracle() -> str:
    # ONE definition of the swept settings/k for both engines (the
    # tradeoff-family drift discipline, ADVICE r13); codebook CTE,
    # cell assignment and probe ranking reuse the exact SQL
    # sim_ann_ivf_topk attests (_IVF_AUTO_CB + the ROW_NUMBER dot
    # ranking); the truth CTE is sim_topk_bruteforce's recipe.
    from dns_log_transformer_spark.queries.llm_ops import _IVF_AUTO_CB, _SQL_DOT

    max_probe = max(_IVF_T_PROBES)
    settings = ", ".join(str(p) for p in _IVF_T_PROBES)
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    {_IVF_AUTO_CB},
    corpus_cell AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, cb.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_SQL_DOT.format(a='e.v', b='cb.cv')} DESC,
                          cb.cell) AS rn
        FROM e, cb)
      WHERE rn = 1),
    cell_sizes AS (
      SELECT cell, COUNT(*)::BIGINT AS n_in_cell FROM corpus_cell GROUP BY cell),
    qv AS (SELECT vec_id AS query_id, v AS qv FROM e
           WHERE vec_id % 50 = 0 AND vec_id < 2000),
    probes AS (
      SELECT query_id, cell, CAST(rn AS BIGINT) AS probe_rank FROM (
        SELECT q.query_id, cb.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_SQL_DOT.format(a='q.qv', b='cb.cv')} DESC,
                          cb.cell) AS rn
        FROM qv q, cb)
      WHERE rn <= {max_probe}),
    truth AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY ROUND({_SQL_DOT.format(a='e.v', b='q.qv')}
                   / (sqrt({_SQL_DOT.format(a='e.v', b='e.v')})
                      * sqrt({_SQL_DOT.format(a='q.qv', b='q.qv')})), 4) DESC,
                 e.vec_id) AS rnk
        FROM e, qv q WHERE e.vec_id <> q.query_id)
      WHERE rnk <= {_IVF_T_K}),
    settings AS (SELECT CAST(unnest([{settings}]) AS BIGINT) AS n_probe),
    truth_rank AS (
      SELECT t.query_id, t.vec_id, p.probe_rank
      FROM truth t
      JOIN corpus_cell c ON t.vec_id = c.vec_id
      LEFT JOIN probes p ON p.query_id = t.query_id AND p.cell = c.cell),
    hits AS (
      SELECT s.n_probe,
             (COUNT(*) FILTER (WHERE tr.probe_rank <= s.n_probe))::BIGINT
               AS n_hit
      FROM settings s CROSS JOIN truth_rank tr GROUP BY s.n_probe),
    scanned AS (
      SELECT s.n_probe,
             COALESCE(SUM(p.n_in_cell)
               FILTER (WHERE p.probe_rank <= s.n_probe), 0)::BIGINT
               AS n_scanned
      FROM settings s
      CROSS JOIN (SELECT p.query_id, p.probe_rank, cs.n_in_cell
                  FROM probes p JOIN cell_sizes cs USING (cell)) p
      GROUP BY s.n_probe),
    nq AS (SELECT COUNT(*)::BIGINT AS n_queries FROM qv),
    nc AS (SELECT COUNT(*)::BIGINT AS n_corpus FROM e)
    SELECT s.n_probe, nq.n_queries,
           COALESCE(h.n_hit, 0) AS n_hit,
           CAST((1000 * COALESCE(h.n_hit, 0))
             // ({_IVF_T_K} * nq.n_queries) AS BIGINT) AS recall_milli,
           COALESCE(sc.n_scanned, 0) AS n_scanned,
           CAST((1000 * COALESCE(sc.n_scanned, 0))
             // (nq.n_queries * nc.n_corpus) AS BIGINT) AS scanned_milli
    FROM settings s
    LEFT JOIN hits h USING (n_probe)
    LEFT JOIN scanned sc USING (n_probe), nq, nc
    """


_WGZ_FILES_PER_BLOB = 64  # mini-segments: ~2x64+1 members per file
_WGZ_STAGE_ROOT = "/root/repo/spark-warehouse/warcgz_files"


def _warcgz_files_oracle() -> str:
    from dns_log_transformer_spark.queries.round14 import _warc_gz_oracle

    return _warc_gz_oracle(per_blob=_WGZ_FILES_PER_BLOB)


@register("corpus_warcgz_files", oracle=_warcgz_files_oracle())
def corpus_warcgz_files(spark: SparkSession, sf: str) -> DataFrame:
    """Real ``.warc.gz`` FILES read from disk (VERDICT r14 #3): the
    documents pack is staged ONCE per fixture as actual files — one
    bounded mini-segment per {per_blob} documents, the Common Crawl
    segment shape — then ``spark.read.format("binaryFile")`` feeds the
    attested gz-member split (``parse_warc_gz``) and byte walk
    (``parse_warc_http``). Same first-principles oracle as
    ``corpus_warc_gz`` (documents strlen/md5 — the file layer must add
    NOTHING to the values; blob_id round-trips through the filename).

    Staging is executor-side and atomic (``stage_warc_gz_files``; a
    ``_SUCCESS`` marker gates reuse, so the write happens once per
    fixture per machine — a real user's segments already exist). Plan
    contract (pinned in tests/test_round15.py): the scan is the
    binaryFile source, parse path = scan -> ONE Arrow stage -> codegen
    walk, zero shuffles. Memory bounding at 100 TB is documented at
    :func:`read_warc_gz_files`: binaryFile rows are whole files, so
    segments stay at archive-standard bounded sizes (or are pre-chunked
    on member boundaries — gzip framing makes byte-offset chunking
    safe).
    """
    import os

    from dns_log_transformer_spark.sources import warc

    stage_dir = os.path.join(
        _WGZ_STAGE_ROOT, os.path.basename(os.path.normpath(sf))
    )
    if not os.path.isfile(os.path.join(stage_dir, "_SUCCESS")):
        docs = table(spark, sf, "documents")
        blobs = warc.pack_warc_gz_blobs(
            docs, per_blob=_WGZ_FILES_PER_BLOB, body_suffix=_MB_SUFFIX
        )
        warc.stage_warc_gz_files(blobs, stage_dir)
    members = warc.parse_warc_gz(warc.read_warc_gz_files(spark, stage_dir))
    return warc.parse_warc_http(members, blob_col="rec_bytes", max_records=1)


@register("sim_ivf_tradeoff", oracle=_ivf_tradeoff_oracle())
def sim_ivf_tradeoff(spark: SparkSession, sf: str) -> DataFrame:
    """IVF's tuning query (VERDICT r14 #4): one recall-vs-cost row per
    probed-cell count (n_probe in {1,2,4,8} at the auto-scaled
    ~sqrt(n) cell count) — ``sim_ann_ivf_topk`` ships n_probe=2; this
    row set shows what deeper probing buys and what it costs, from ONE
    tagged pass (the probe RANK is the tag: a setting reaches exactly
    the cells ranked <= n_probe, so assignment and the brute-force
    truth each run once; see operators/similarity.py ivf_tradeoff for
    why no per-setting candidate re-ranking is needed). recall_milli =
    exact integer milli of retrieved true top-k pairs; scanned_milli =
    the cost axis, the fraction of corpus rows a query's probes read.
    """
    from dns_log_transformer_spark.operators import similarity

    emb = table(spark, sf, "embeddings")
    queries = emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000))
    return similarity.ivf_tradeoff(
        emb, queries, k=_IVF_T_K, n_probes=_IVF_T_PROBES
    )


# ---------------------------------------------------------------------------
# The north-star capstone (VERDICT r14 #1): .warc.gz -> training shards
# ---------------------------------------------------------------------------

_CAP_LANG = "en"
_CAP_QUALITY_MIN = 0.45  # drops ~10% at the fixtures (non-vacuous gate)


def _warcgz_to_shards_oracle() -> str:
    # Composed ENTIRELY from the already-attested per-stage fragments
    # (the drift discipline: one definition per recipe) — gates/decon
    # are per-doc functions, so their fragments run over the full
    # documents table and the funnel intersects; the NEAR-dup stage is
    # subset-dependent (components/min-ids change with the survivor
    # set), so the shared minhash chain is re-pointed at the survivor
    # CTE. First principles throughout: the oracle never sees gzip,
    # the walk, or any archive byte — a round-trip bug in pack/split/
    # walk/body-decode lands as a funnel-count mismatch.
    from dns_log_transformer_spark.queries.llm_ops import (
        _DECON_ORACLE,
        _LANG_PRED_SQL,
        _LANG_SCORES_SQL,
        _MH_PAIRS_CTES,
        _PACK_BUDGET,
        _PACK_SHARDS,
        _QUALITY_RAW_SQL,
        _QUALITY_SCORE_EXPR,
        _REPETITION_ORACLE,
        _SQL_NORM,
        _SQL_TOKENS,
    )

    assert _MH_PAIRS_CTES.count("FROM documents") == 1
    mh_subset = _MH_PAIRS_CTES.replace("FROM documents", "FROM s4d")
    return rf"""
    WITH RECURSIVE
    d AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
    tk AS MATERIALIZED (SELECT doc_id, CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens
           FROM documents WHERE text IS NOT NULL),
    lg AS MATERIALIZED (SELECT doc_id,
{_LANG_SCORES_SQL}
           FROM documents),
    lgp AS MATERIALIZED (SELECT doc_id, {_LANG_PRED_SQL} AS lang_pred FROM lg),
    q AS MATERIALIZED ({_QUALITY_RAW_SQL}),
    qs AS MATERIALIZED (SELECT doc_id, {_QUALITY_SCORE_EXPR} AS quality_score FROM q),
    rep AS MATERIALIZED ({_REPETITION_ORACLE}),
    dec AS MATERIALIZED ({_DECON_ORACLE}),
    s1 AS MATERIALIZED (SELECT d.doc_id FROM d JOIN lgp USING (doc_id)
           WHERE lang_pred = '{_CAP_LANG}'),
    s2 AS MATERIALIZED (SELECT s1.doc_id FROM s1 JOIN qs USING (doc_id)
           WHERE quality_score >= {_CAP_QUALITY_MIN}),
    s3 AS MATERIALIZED (SELECT s2.doc_id FROM s2 JOIN rep USING (doc_id)
           WHERE NOT flag_repetitive),
    ex AS MATERIALIZED (SELECT MIN(doc_id) AS doc_id FROM d GROUP BY md5({_SQL_NORM})),
    s4 AS MATERIALIZED (SELECT ex.doc_id FROM ex JOIN s3 USING (doc_id)),
    s4d AS MATERIALIZED (SELECT d.doc_id, d.text FROM d JOIN s4 USING (doc_id)),
    {mh_subset},
    s5 AS MATERIALIZED (SELECT s4.doc_id FROM s4
           WHERE s4.doc_id NOT IN (SELECT doc_b FROM dup_pairs)),
    s6 AS MATERIALIZED (SELECT s5.doc_id FROM s5 JOIN dec USING (doc_id)
           WHERE NOT is_contaminated),
    pd AS MATERIALIZED (SELECT s6.doc_id,
                  s6.doc_id % {_PACK_SHARDS} AS shard,
                  tk.n_tokens AS tokens,
                  ROW_NUMBER() OVER (
                    PARTITION BY s6.doc_id % {_PACK_SHARDS}
                    ORDER BY s6.doc_id) AS rn
           FROM s6 JOIN tk USING (doc_id)),
    p(shard, rn, doc_id, bin_in_shard, tokens, acc) AS (
      SELECT shard, rn, doc_id, CAST(0 AS BIGINT), tokens, tokens
      FROM pd WHERE rn = 1
      UNION ALL
      SELECT pd.shard, pd.rn, pd.doc_id,
             CASE WHEN p.acc > 0 AND p.acc + pd.tokens > {_PACK_BUDGET}
                  THEN p.bin_in_shard + 1 ELSE p.bin_in_shard END,
             pd.tokens,
             CASE WHEN p.acc > 0 AND p.acc + pd.tokens > {_PACK_BUDGET}
                  THEN pd.tokens ELSE p.acc + pd.tokens END
      FROM p JOIN pd ON pd.shard = p.shard AND pd.rn = p.rn + 1)
    SELECT 'archive_text' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM d JOIN tk USING (doc_id)
    UNION ALL
    SELECT 'lang', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT)
    FROM s1 JOIN tk USING (doc_id)
    UNION ALL
    SELECT 'quality', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT)
    FROM s2 JOIN tk USING (doc_id)
    UNION ALL
    SELECT 'repetition', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(n_tokens) AS BIGINT)
    FROM s3 JOIN tk USING (doc_id)
    UNION ALL
    SELECT 'dedup_exact', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(n_tokens) AS BIGINT)
    FROM s4 JOIN tk USING (doc_id)
    UNION ALL
    SELECT 'dedup_near', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(n_tokens) AS BIGINT)
    FROM s5 JOIN tk USING (doc_id)
    UNION ALL
    SELECT 'decontaminated', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(n_tokens) AS BIGINT)
    FROM s6 JOIN tk USING (doc_id)
    UNION ALL
    SELECT 'packed',
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM (SELECT DISTINCT shard, bin_in_shard FROM p)),
           CAST(COALESCE(SUM(tokens), 0) AS BIGINT)
    FROM p
    """


@register("corpus_warcgz_to_shards", oracle=_warcgz_to_shards_oracle())
def corpus_warcgz_to_shards(spark: SparkSession, sf: str) -> DataFrame:
    """The north-star job as ONE attested pipeline (VERDICT r14 #1):
    ``.warc.gz`` blobs -> gz-member split -> byte walk + HTTP body text
    (``keep_body``; every downstream character comes from the ARCHIVE,
    never the parquet) -> lang-ID gate (keep 'en') -> quality gate
    (blended score >= 0.45) -> repetition gate (Gopher flags) -> exact
    dedup (keep min id per normalized hash) -> NEAR dedup (MinHash-LSH
    pairs at Jaccard >= 0.5, greedy keep-earliest: drop every doc with
    a smaller near-dup partner — computed on the SURVIVOR set, where
    the pair set genuinely differs from the full corpus) -> benchmark
    decontamination (8-gram collision vs the held-out set) -> next-fit
    token packing into budget-sized training sequences. Output: one
    funnel row per stage (stage, n_docs, n_tokens) + the 'packed' row
    (n_docs = sequence count, n_tokens = packed total).

    Every stage reuses the already-attested operator and its oracle
    fragment; the composition is what's new — per the r7/r10 lesson
    that persist/lint/schema frictions hide between attested stages.
    The exact-dup stage intersects the FULL-corpus keep set (identical
    text -> identical gate outcomes, so dup groups survive or fall
    whole and the subset min equals the full min); the near-dup stage
    cannot (see above) and re-runs on survivors both engine- and
    oracle-side.

    Shape at scale: the walk rides the scan (one Arrow stage, zero
    parse shuffles) and is checkpointed once; every stage's attested
    operator contributes a boolean column to ONE per-doc flag frame
    via doc_id equi-joins, and the whole funnel is a single
    conditional aggregation over it (the corpus_source_scorecard
    discipline — no per-stage id-set materialization, no union of
    per-stage scans); packing shards by id (one shuffle,
    applyInPandas per shard).

    BUILD VS EXEC: the eager checkpoints run at plan build, so most of
    this query's cost is build, not the returned plan's execution.
    perfbench times the two together and prints the split with
    ``--trace 1``: at sf0.001 on 4 cores, three cold passes measured
    12.8-14.1 s build (48 jobs, 476 tasks) and 1.3-1.6 s exec.
    eager=False does NOT move the cost into exec: the rebalance probes
    / AQE stage materialization execute the walk during build anyway,
    and WITHOUT the checkpoint cache they re-run it (measured 16.5 s
    warm build vs 1.8 s eager).
    """
    from dns_log_transformer_spark.operators import corpus, dedup
    from dns_log_transformer_spark.operators import text as text_ops
    from dns_log_transformer_spark.operators.caching import persist_tracked
    from dns_log_transformer_spark.queries.llm_ops import (
        _DECON_N,
        _PACK_BUDGET,
        _PACK_SHARDS,
    )
    from dns_log_transformer_spark.sources import warc

    docs = table(spark, sf, "documents").select("doc_id", "text")
    blobs = warc.pack_warc_gz_blobs(docs, per_blob=2, body_suffix="")
    walk = warc.parse_warc_http(
        warc.parse_warc_gz(blobs),
        blob_col="rec_bytes",
        max_records=1,
        keep_body=True,
    )
    # localCheckpoint, not persist (rule 9 measured here: 124.8 s of
    # BUILD at sf0.001 with persist, 4.4 s exec): the archive frame's
    # lineage embeds the unrolled WARC walk, and every one of the ~10
    # downstream Dataset ops re-runs the eager analyzer over the WHOLE
    # accumulated plan — plus the components loop's per-round joins.
    # Truncating the plan at the archive boundary makes every
    # downstream analyzer pass O(stage), not O(walk); the walk executes
    # exactly once (eager), which is also what persist achieved.
    archive = (
        walk.filter(
            (F.col("warc_type") == "response")
            & F.col("ok")
            & F.col("member_ok")
        )
        .select("doc_id", F.col("body_text").alias("text"))
        .localCheckpoint(eager=True)
    )
    # ONE per-doc flag frame + ONE conditional aggregation (the
    # corpus_source_scorecard discipline): each gate/dedup/decon stage
    # contributes a boolean column via a doc_id equi-join of its
    # attested operator's output; the funnel is nested ANDs read off in
    # a single pass. The earlier shape (persisted id-set per stage +
    # union of 8 aggregates) measured 10-22 s build / 11 s exec — ~30
    # Spark jobs of pure overhead at fixture scale.
    # lang + quality FUSED into one projection chain over the archive
    # (r15 optimization): both are per-row functions of tokens(text), so
    # chaining the two attested operators collapses to ONE top-level
    # projection whose shared subexpressions (tokens, sizes) codegen
    # eliminates once per row (rule 1) — one archive scan and one
    # doc_id join fewer than the separate lang ⋈ qual shape.
    gates = text_ops.with_quality_score(text_ops.with_lang_id(archive)).select(
        "doc_id", "lang_pred", "n_tokens", "quality_score"
    )
    rep = text_ops.repetition_stats(archive).select(
        "doc_id", "flag_repetitive"
    )
    keep_exact = dedup.exact_dup_groups(archive).select(
        F.col("keep_id").alias("doc_id"), F.lit(True).alias("_exact_keep")
    )
    # decon is a per-doc function of (doc, benchmark) — computed over
    # the whole archive like its oracle fragment, subset-independent
    dec = corpus.decontaminate(
        archive,
        docs.filter(F.col("doc_id") % 97 == 0),
        n=_DECON_N,
    ).select("doc_id", "is_contaminated")
    flags1 = persist_tracked(
        gates.join(rep, "doc_id")
        .join(keep_exact, "doc_id", "left")
        .withColumns(
            {
                "p_lang": F.col("lang_pred") == _CAP_LANG,
                "p_qual": (F.col("lang_pred") == _CAP_LANG)
                & (F.col("quality_score") >= _CAP_QUALITY_MIN),
            }
        )
        .withColumns(
            {
                "p_rep": F.col("p_qual") & ~F.col("flag_repetitive"),
            }
        )
        .withColumn(
            "p_exact",
            F.col("p_rep") & F.coalesce("_exact_keep", F.lit(False)),
        )
        .select(
            "doc_id", "n_tokens", "p_lang", "p_qual", "p_rep", "p_exact"
        )
    )
    # NEAR dedup runs on the SURVIVOR set (the pair set genuinely
    # differs from the full corpus): greedy keep-earliest — drop any
    # doc with a SMALLER near-dup partner (pairs are doc_a < doc_b),
    # one anti-join tag, no iteration. The cluster-exact alternative
    # (connected components, keep the component min) is attested
    # separately in dedup_components; its driver-looped label
    # propagation cost 17.5 s of BUILD per invocation here (measured)
    # and a quadratic recursive-closure oracle, for a policy difference
    # (bridge docs re-admitting later cluster members) a production
    # funnel does not want anyway.
    s4_docs = archive.join(
        flags1.filter(F.col("p_exact")).select("doc_id"), "doc_id"
    )
    pairs = dedup.minhash_lsh_pairs(s4_docs, threshold=0.5)
    # localCheckpoint again (rule 11 flavor): the MinHash chain's
    # optimized plan is ~400 KB, and this tiny dropped-id set is
    # consumed by BOTH the funnel aggregation and the packed branch —
    # without truncation the chain substitutes into each consumer and
    # the final plan lands at 2.2 MB, over the 1 MB lint ceiling (and
    # the LSH pass would execute twice).
    dropped_near = (
        pairs.select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("_near_drop", F.lit(True))
        .localCheckpoint(eager=True)
    )
    # persist the FINAL flag frame (not just flags1): it feeds both the
    # funnel aggregation and the packed branch, and deriving the packed
    # input from it (filter p_dec) instead of re-joining dec runs the
    # decontamination scan once, not twice (~0.9 s/pass at sf0.1)
    flags = persist_tracked(
        flags1.join(dropped_near, "doc_id", "left")
        .join(dec, "doc_id")
        .withColumn(
            "p_near",
            F.col("p_exact") & ~F.coalesce("_near_drop", F.lit(False)),
        )
        .withColumn("p_dec", F.col("p_near") & ~F.col("is_contaminated"))
    )
    packed = corpus.pack_sequences(
        flags.filter(F.col("p_dec")).select("doc_id", "n_tokens"),
        budget=_PACK_BUDGET,
        n_shards=_PACK_SHARDS,
    )

    stages = [
        ("archive_text", F.lit(True)),
        ("lang", F.col("p_lang")),
        ("quality", F.col("p_qual")),
        ("repetition", F.col("p_rep")),
        ("dedup_exact", F.col("p_exact")),
        ("dedup_near", F.col("p_near")),
        ("decontaminated", F.col("p_dec")),
    ]
    agg_row = flags.agg(
        *[
            a
            for name, cond in stages
            for a in (
                F.sum(F.when(cond, 1).otherwise(0))
                .cast("long")
                .alias(f"_d_{name}"),
                F.sum(F.when(cond, F.col("n_tokens")))
                .cast("long")
                .alias(f"_t_{name}"),
            )
        ]
    )
    funnel = agg_row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("stage"),
                        F.col(f"_d_{name}").alias("n_docs"),
                        F.col(f"_t_{name}").alias("n_tokens"),
                    )
                    for name, _ in stages
                ]
            )
        ).alias("s")
    ).select("s.stage", "s.n_docs", "s.n_tokens")
    packed_row = packed.agg(
        F.count_distinct(F.col("shard"), F.col("bin_in_shard"))
        .cast("long")
        .alias("n_docs"),
        F.sum("tokens").cast("long").alias("n_tokens"),
    ).select(F.lit("packed").alias("stage"), "n_docs", "n_tokens")
    return funnel.unionAll(packed_row)
