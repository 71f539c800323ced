"""Physical-plan inspection helpers.

Plan shape IS part of this engine's contract (PLANS.md): tests assert on
the absence of exchanges, the presence of pushed filters, and broadcast
choices — these helpers make those assertions first-class.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> list[str]:
    """Every PushedFilters list in the plan (one per parquet scan)."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", physical_plan(df))


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema per scan — the column-pruning evidence."""
    return re.findall(r"ReadSchema: struct<([^>]*)>", physical_plan(df))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def has_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in physical_plan(df)


def assert_filter_pushed(df: DataFrame, fragment: str) -> None:
    """Assert some parquet scan pushes a filter mentioning ``fragment``."""
    pushed = pushed_filters(df)
    assert any(fragment in p for p in pushed), (
        f"no pushed filter mentions {fragment!r}; got {pushed}"
    )


# ---------------------------------------------------------------------------
# Codegen compile check (VERDICT r11 #1)
# ---------------------------------------------------------------------------


def codegen_stats(df: DataFrame) -> list[tuple[str, int, int, int]]:
    """Per-WholeStageCodegen-subtree bytecode stats, compiled NOW:
    ``[(subtree header, max_method_bytecode, max_constant_pool,
    n_inner_classes)]``.

    Backed by Spark's own ``QueryExecution.debug.codegenToSeq`` (the
    `debugCodegen` machinery), which runs every subtree of the current
    physical plan — AQE-aware, final plan after execution — through the
    SAME ``CodeGenerator.compile`` the executor uses, returning
    ``ByteCodeStats.UNAVAILABLE`` (all ``-1``) when Janino refuses the
    source. Cheap on an already-executed DataFrame: successful compiles
    are served from the codegen cache; only failures recompile.
    """
    seq = df._jdf.queryExecution().debug().codegenToSeq()
    out = []
    for i in range(seq.size()):
        t = seq.apply(i)
        stats = t._3()
        out.append(
            (
                t._1().splitlines()[0][:120],
                stats.maxMethodCodeSize(),
                stats.maxConstPoolSize(),
                stats.numInnerClasses(),
            )
        )
    return out


def codegen_lint(df: DataFrame) -> list[str]:
    """Violations for the SILENT interpreted-codegen fallback class.

    The r11 container census pushed one generated ``doConsume`` past
    Janino's 64 KB method limit; ``WholeStageCodegenExec.doExecute``
    caught the compile failure and fell back to interpreted execution
    (~10x slower) with nothing but an executor-log ``ERROR
    CodeGenerator`` — invisible to the bench's min-of-passes, to
    pytest, and to :func:`scale_lint` (which inspects plan *shape*,
    not whether the generated code compiled). This check makes the
    class mechanical: it fails when any WholeStageCodegen subtree

    - does not compile at all (``maxMethodCodeSize == -1`` — the exact
      runtime-fallback condition), or
    - compiles with a method larger than ``spark.sql.codegen.
      hugeMethodLimit`` (the OTHER runtime-fallback branch in
      ``doExecute``: Spark discards the compiled stage and runs the
      child interpreted when the biggest method exceeds the limit).

    Empty list = every generated stage actually executes compiled.

    Call AFTER executing the DataFrame: under AQE the codegen-wrapped
    subtrees exist only on materialized query stages, so an unexecuted
    shuffle-bearing plan reports no subtrees (vacuously clean).
    """
    limit = int(
        df.sparkSession.conf.get("spark.sql.codegen.hugeMethodLimit", "65535")
    )
    out: list[str] = []
    for header, max_method, _pool, _inner in codegen_stats(df):
        if max_method < 0:
            out.append(
                "WholeStageCodegen subtree does not compile (Janino "
                f"refused — runtime falls back to INTERPRETED): {header!r}"
            )
        elif max_method > limit:
            out.append(
                f"WholeStageCodegen method of {max_method} bytecodes "
                f"exceeds hugeMethodLimit {limit} (runtime discards the "
                f"compiled stage): {header!r}"
            )
    return out


# ---------------------------------------------------------------------------
# Optimized-plan size lint (VERDICT r12 #1)
# ---------------------------------------------------------------------------


def optimized_plan_size(df: DataFrame) -> int:
    """Characters in ``optimizedPlan().toString()`` — the cheap proxy for
    optimizer-side expression blowup. On an executed DataFrame the
    optimized plan is already computed (QueryExecution caches it), so
    this is a toString, not a re-optimization.
    """
    return len(df._jdf.queryExecution().optimizedPlan().toString())


def plan_size_lint(df: DataFrame, *, max_chars: int = 1_000_000) -> list[str]:
    """Violations for the OPTIMIZER-side plan-blowup class (CLAUDE.md
    rule 11), the sequel to :func:`codegen_lint` one layer up the stack.

    The r12 WARC walk hit it first: a plain ``explode`` at the tail of
    an unrolled walk lets ``InferFiltersFromGenerate`` synthesize
    ``size(arr) > 0``, and predicate pushdown substitutes the ENTIRE
    walk expression into that one predicate on its way to the scan —
    the substitution is exponential in walk depth (41 MB optimized
    plan / driver OOM at 3 steps). ``_codegen_barrier`` stops
    CollapseProject but NOT pushdown, and :func:`codegen_lint` can't
    see it: the blowup happens before any code is generated (and the
    driver dies before codegen gets a chance at real depth).

    This check makes the class mechanical: the optimized plan's string
    form must stay under a generous ceiling (default 1 MB — the whole
    registry's largest legitimate plan is ~100x smaller, while the
    blowup class lands in the tens of MB even at toy depth). Exceeding
    it means some rewrite rule is duplicating a deep expression tree;
    fix the operator (rule 11: ``explode_outer`` + a filter on the
    GENERATOR OUTPUT, which pushdown cannot cross), don't raise the
    ceiling.

    Works on analyzed-but-unexecuted frames too (optimization runs on
    demand) — usable as a pre-flight check while authoring a walk.
    """
    n = optimized_plan_size(df)
    if n > max_chars:
        return [
            f"optimized plan is {n:,} chars (ceiling {max_chars:,}) — "
            "optimizer-side expression blowup (CLAUDE.md rule 11: check "
            "for a plain explode/filter substituting an unrolled walk "
            "into one predicate)"
        ]
    return []


# ---------------------------------------------------------------------------
# Static-broadcast audit lint (VERDICT r13 #1 — the rule-12 class, made
# mechanical at the gate fixtures)
# ---------------------------------------------------------------------------

_BCAST_JOIN = re.compile(r"\b(BroadcastHashJoin|BroadcastNestedLoopJoin)\b")


def _normalize_plan_line(line: str) -> str:
    """A plan line reduced to a stable signature: tree art and the
    whole-stage-codegen ``*(n)`` prefix stripped, expression ids
    (``#123L``) removed, whitespace collapsed. Column names, join keys,
    join type and build side survive — the parts that identify WHICH
    join this is across rounds and scale factors."""
    s = line.strip()
    s = re.sub(r"^[\s:+\-*()\d]+(?=Broadcast)", "", s)
    s = re.sub(r"#\d+L?", "", s)
    s = re.sub(r"\s+", " ", s)
    return s[:200]


def broadcast_sigs(df: DataFrame) -> set[str]:
    """Normalized signatures of every STATICALLY planned broadcast join
    in ``df``'s physical plan — read from ``queryExecution().sparkPlan``,
    the planner's output BEFORE adaptive execution.

    Why the static plan and not the AQE-final one: the rule-12 failure
    class (CLAUDE.md) is a broadcast the STATIC planner picks off an
    undershooting post-aggregate size estimate — AQE cannot demote it,
    and at corpus scale the build side is gigabytes (r13: 3.5+ GiB
    relations, driver OOM at x100). A broadcast that appears only in
    the AQE-final plan is the opposite case: AQE converted a shuffle
    join after MEASURING the build side at runtime, a decision that is
    re-made from real sizes at every scale and therefore safe by
    construction — at 100 TB AQE sees 100 TB sides and keeps the
    shuffle. Linting the static plan targets exactly the dangerous
    decisions and keeps the allowlist free of fixture-size noise.

    Collected by walking the JVM plan TREE, not its string form:
    persisted subtrees embed AdaptiveSparkPlanExec nodes whose toString
    switches from the initial (static) plan to the AQE-final plan the
    moment the cache materializes — runtime broadcast conversions would
    leak into a post-execution string scan and make the lint's result
    depend on WHEN it ran. The walk recurses into ``initialPlan`` of
    every adaptive node and ``cachedPlan`` of every in-memory relation,
    so a query linted after execution (the parity suites) reports
    exactly the static sigs the allowlist generator saw at plan-build
    time. Cheap on a compiled frame: ``sparkPlan`` is cached by
    QueryExecution.
    """
    out: set[str] = set()

    def walk(jnode) -> None:
        name = jnode.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            # the statically planned tree, stable across execution
            walk(jnode.initialPlan())
            return
        if name in ("BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec"):
            out.add(_normalize_plan_line(jnode.simpleString(100)))
        if name == "InMemoryTableScanExec":
            walk(jnode.relation().cachedPlan())
            return
        ch = jnode.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().sparkPlan())
    return out


def broadcast_lint(df: DataFrame, allowed: dict[str, str]) -> list[str]:
    """Violations for the rule-12 static-broadcast class: every
    statically planned BroadcastHashJoin / BroadcastNestedLoopJoin in
    ``df``'s plan must match ``allowed`` — the query's checked-in
    allowlist of signature -> one-line bounded-by-construction
    rationale (dns_log_transformer_spark/broadcast_allowlist.py).

    A new corpus x corpus join whose static estimate undershoots the
    broadcast threshold lands green in pytest, both parity sweeps and
    the bench (at gate fixtures every broadcast genuinely fits) and
    previously failed only when someone hand-ran
    tools/bhj_sweep_r13.py at x100 — this lint makes it fail the
    parity suite until the build side is consciously classified.
    Entries with an empty rationale are violations too: the rationale
    IS the adjudication.
    """
    out: list[str] = []
    for sig in sorted(broadcast_sigs(df)):
        why = allowed.get(sig)
        if why is None:
            out.append(
                "statically planned broadcast not in the allowlist — "
                "classify the build side as bounded-by-construction in "
                f"broadcast_allowlist.py or pin .hint('merge'): {sig!r}"
            )
        elif not why.strip():
            out.append(f"allowlisted broadcast has an empty rationale: {sig!r}")
    return out


# ---------------------------------------------------------------------------
# Registry-wide scale lint
# ---------------------------------------------------------------------------

_GLOBAL_AGG = re.compile(
    r"(HashAggregate|SortAggregate|ObjectHashAggregate)\(keys?=\[\]"
)

# AQE wrapper/bookkeeping nodes that sit between an Exchange and its real
# consumer in an executed plan — transparent for ancestry purposes
_TRANSPARENT_NODE = re.compile(
    r"ShuffleQueryStage|BroadcastQueryStage|ResultQueryStage"
    r"|TableCacheQueryStage|AQEShuffleRead|CollectMetrics"
    r"|== Final Plan ==|== Initial Plan =="
)


def _tree_indent(line: str) -> int:
    """Depth of a simple-mode plan line (length of the ``:  +- `` prefix)."""
    return len(line) - len(line.lstrip(" :+-"))


def scale_lint(
    df: DataFrame,
    *,
    allow_bnlj: bool = False,
    allow_row_python: bool = False,
) -> list[str]:
    """Scale-safety violations in a compiled physical plan.

    The invariants every query in this engine holds at any scale factor
    (PLANS.md "Config stance" + the per-operator scale notes):

    - no ``CartesianProduct`` — the shuffled all-pairs join strategy is
      never acceptable; even the documented exact-baseline operators do
      their all-pairs work as a *broadcast* nested loop or blocked
      matmul, which at least never shuffles the square
    - no ``BatchEvalPython`` — Python enters a plan Arrow-batched only
      (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas /
      MapInArrow); a row-at-a-time UDF in a hot path is a 10-100x tax.
      Pass ``allow_row_python=True`` only where the caller MEASURED the
      pickled path faster (the sentence-split UDTF: Arrow's per-value
      conversion loses on small-row 1->N fan-out) and a codegen twin
      exists for pipelines
    - ``BroadcastNestedLoopJoin`` only where the caller documents the
      broadcast side as scale-bounded (scalar subqueries, query
      workloads, k x dim codebooks) — pass ``allow_bnlj=True`` there
    - ``Exchange SinglePartition`` may only feed a one-row global
      aggregate (partial aggs upstream make the exchanged payload one
      row per map task); a single-partition exchange under a Sort,
      Window, or join serializes the whole input through one task

    Returns a list of human-readable violations (empty = clean).
    """
    plan = physical_plan(df, "simple")
    out: list[str] = []
    if "CartesianProduct" in plan:
        out.append("CartesianProduct: shuffled all-pairs join")
    if not allow_row_python and "BatchEvalPython" in plan:
        out.append("BatchEvalPython: row-at-a-time Python UDF/UDTF")
    if not allow_bnlj and "BroadcastNestedLoopJoin" in plan:
        out.append(
            "BroadcastNestedLoopJoin: undocumented — justify the "
            "broadcast side's scale bound and allowlist the query"
        )
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        ind = _tree_indent(ln)
        parent = ""
        for prev in reversed(lines[:i]):
            if not prev.strip():
                continue
            pind = _tree_indent(prev)
            if pind >= ind:
                continue
            if _TRANSPARENT_NODE.search(prev):
                ind = pind
                continue
            parent = prev
            break
        if not _GLOBAL_AGG.search(parent):
            out.append(
                "Exchange SinglePartition feeding a non-global-aggregate "
                f"consumer: {parent.strip()[:90]!r}"
            )
    return out
