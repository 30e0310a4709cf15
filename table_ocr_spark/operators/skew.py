"""Skew-aware repartitioning (axis B — explicit partitioning/shuffle/skew).

At 10^12 turns, conversation lengths are heavy-tailed (FIXTURES.md: 1% of
convs hold 2k-20k turns).  A plain ``repartition(hash(conv_id))`` puts a
whole long conversation in one task — the straggler that caps scaling
efficiency below the 0.8 north-rule bar.  Per-turn extraction is
embarrassingly parallel, so salting long conversations is semantics-free:

    salt = turn_idx % salt_buckets          (long convs only)
    partition key = (conv_id, salt)

AQE skew handling does NOT cover Python-UDF stages (it rebalances joins and
shuffle reads, not the work inside one task), hence the explicit salt
(SURVEY.md §4.1 skew row).

The skew sketch is a cheap ``groupBy(conv_id).count()`` — at scale, a
partial-aggregated two-stage count over just the conv_id column (pruned
scan), then only conv_ids above threshold are collected: that set is tiny
(heavy hitters by definition) and is broadcast back as a join or literal
filter.  A job that commits in groups sketches once per run, not once per
group: ``heavy_conv_ids_by_group`` counts per (group, conv_id) with each
group's total in the same aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from table_ocr_spark.config import DEFAULT_CONFIG, ExtractorConfig


# largest heavy-hitter set inlined as a literal IN-list; past it callers
# fall back to a broadcast join against the sketch
HEAVY_INLINE_CAP = 10_000


def _heavy_counts(df: DataFrame, threshold: int, group: Column | None = None) -> DataFrame:
    """The ONE heavy-hitter sketch definition — (conv_id, n_turns) with
    n_turns > threshold — shared by the broadcast-join, materialized and
    run-level paths so they can never drift apart on what 'heavy' means.

    Grouped form (``group``: a column naming each row's group, e.g. the
    commit group of its bucket): the same count per (``_group``, conv_id),
    computed as a rollup so each group's row total rides the same
    aggregate as a ``_is_total`` row (conv_id NULL, the grand total
    dropped) — one scan gives both the heavy candidates and the totals
    their budget-relative thresholds need."""
    n_turns = F.count(F.lit(1)).alias("n_turns")
    if group is None:
        return df.groupBy("conv_id").agg(n_turns).filter(F.col("n_turns") > threshold)
    gid = F.col("_gid")
    return (
        df.withColumn("_group", group)
        .rollup("_group", "conv_id")
        .agg(n_turns, F.grouping_id().alias("_gid"))
        .filter((gid == 1) | ((gid == 0) & (F.col("n_turns") > threshold)))
        .select("_group", "conv_id", "n_turns", (gid == 1).alias("_is_total"))
    )


def skewed_conv_ids(df: DataFrame, threshold: int) -> DataFrame:
    """Heavy-hitter sketch: conv_ids with > threshold turns. Output is small
    by construction (heavy hitters), safe to broadcast."""
    return _heavy_counts(df, threshold).select("conv_id")


def effective_skew_threshold(
    df: DataFrame,
    cfg: ExtractorConfig,
    num_partitions: int | None,
    total: int | None = None,
) -> int:
    """Skew threshold relative to the actual per-task row budget.

    A conversation is a straggler only when it is large RELATIVE to what a
    task holds: salting a 1.5k-turn conversation when tasks average 8k
    turns shuffles bytes to fix a skew that does not exist (measured on the
    sf0.1 bench corpus: the static floor of 1000 salted 61% of all rows).
    The effective threshold is

        max(cfg.skew_turns_threshold, total_turns / partitions / 2)

    — a conversation may occupy up to half a task before it shuffles.  The
    count is one narrow-column aggregate (conv_id only reaches the scan).
    As data grows 100× with the partition count held, the budget grows and
    the threshold rises with it; with partitions scaled to the data (the
    cluster case) it converges to the static floor.
    """
    thr = cfg.skew_turns_threshold
    if not num_partitions:
        return thr
    if total is None:
        total = df.select(F.count(F.lit(1)).alias("n")).first()["n"]
    return max(thr, total // num_partitions // 2)


def heavy_conv_ids_materialized(
    df: DataFrame, threshold: int, cap: int = HEAVY_INLINE_CAP, with_counts: bool = False
) -> list | None:
    """Collect the heavy-hitter conv_id set to the driver ONCE.

    Heavy hitters are few by construction (each holds > threshold rows, so
    at most total/threshold exist); a materialized literal set beats a
    broadcast-join subplan two ways at scale: (1) the sketch aggregation
    runs once per JOB instead of re-executing inside every downstream
    action that references the plan, (2) the resulting IN-filter is a
    plain predicate — pushed into the parquet scan, no build side at all.
    Returns None when the set exceeds ``cap`` (adversarial corpus) — the
    caller falls back to the broadcast-join form.

    ``with_counts``: return ``[(conv_id, n_turns), …]`` instead of bare ids
    (same single sketch job — the count rides the collected rows for free);
    callers use the counts to size the heavy branch's partition share.
    """
    rows = _heavy_counts(df, threshold).limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    if with_counts:
        return [(r.conv_id, r.n_turns) for r in rows]
    return [r.conv_id for r in rows]


def heavy_conv_ids_by_group(
    df: DataFrame,
    group: Column,
    groups: list,
    cfg: ExtractorConfig,
    num_partitions: int | None,
    cap: int | None = None,
) -> dict:
    """Run-level skew sketch: ``{g: (threshold, heavy conv_ids | None)}``
    for every ``g`` in ``groups`` from ONE aggregate over ``df``.

    Equal, group by group, to ``heavy_conv_ids_materialized(df_g,
    effective_skew_threshold(df_g, cfg, num_partitions), cap)`` over
    ``df_g = df.filter(group == g)`` — the per-group form costs two sketch
    jobs and a rescan per group.  Here the grouped ``_heavy_counts`` keeps
    every conversation above the static floor plus each group's total; the
    driver derives each group's budget-relative threshold from its total
    and keeps the conversations above it.  ``None`` means over ``cap``:
    the caller falls back to the broadcast join.

    The collect is bounded by ``len(groups) * (cap + 2)`` rows: totals
    first, then candidates by count, descending.  When it is truncated, a
    group whose threshold lies below the smallest collected count may be
    missing candidates; unless it is already over the cap, that group
    alone is re-sketched with the per-group form (adversarial corpora
    only).
    """
    cap = HEAVY_INLINE_CAP if cap is None else cap
    limit = len(groups) * (cap + 2)
    rows = (
        _heavy_counts(df, cfg.skew_turns_threshold, group)
        .orderBy(F.col("_is_total").desc(), F.col("n_turns").desc())
        .limit(limit + 1)
        .collect()
    )
    truncated = len(rows) > limit
    totals = {r._group: r.n_turns for r in rows if r._is_total}
    candidates = [r for r in rows if not r._is_total]
    complete_above = candidates[-1].n_turns if truncated else 0
    out = {}
    for g in groups:
        thr = effective_skew_threshold(df, cfg, num_partitions, total=totals.get(g, 0))
        heavy = [r.conv_id for r in candidates if r._group == g and r.n_turns > thr]
        if len(heavy) > cap:
            heavy = None
        elif thr < complete_above:
            heavy = heavy_conv_ids_materialized(df.filter(group == g), thr, cap)
        out[g] = (thr, heavy)
    return out


def salted_repartition(
    df: DataFrame,
    cfg: ExtractorConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
    adaptive_threshold: bool = True,
    worker_budget: int | None = None,
) -> DataFrame:
    """Selective skew salting: shuffle ONLY the heavy conversations.

    Rows of normal conversations keep their scan partitioning — zero
    shuffle bytes for the balanced majority.  Rows of heavy conversations
    (the skew sketch's output, materialized to a literal IN-set) are
    salted by ``turn_idx % salt_buckets`` and repartitioned so no single
    task owns a whole long conversation.  The two branches union; per-turn
    extraction is order-free so the union is semantics-free (any ordering
    requirement is applied downstream per the north rule).

    **Cost model vs the single-scan alternative** (which regime to use):
    the union's two filtered branches scan the input TWICE (the IN-set
    cannot row-group-prune when heavy convs are scattered), in exchange
    for shuffling only the stragglers' bytes (measured: ~7 MB of 110 MB
    at sf0.1).  The alternative — one scan + ``when(heavy, salt)`` + a
    full ``repartition`` — scans once but shuffles EVERYTHING.  At 100 TB
    a full shuffle (disk write + network + disk read of the whole input)
    costs far more than a second columnar scan, so this union form is the
    right compute-only plan; jobs that must shuffle anyway for output
    alignment (the bucketed write) fold the salt into that one inherent
    shuffle instead — ``plans/pipeline._salted_bucketed`` is that
    single-scan variant.

    The threshold is budget-relative by default (``adaptive_threshold``):
    a conversation shuffles only when it exceeds half the per-task row
    budget — salting a 1.5k-turn conv when tasks hold 8k turns moves bytes
    to fix a skew that does not exist (the static floor salted 61% of the
    sf0.1 bench corpus).  Versus salting everything: shuffle volume drops
    from 100% of the input to exactly the stragglers.

    ``worker_budget`` (oversubscribed local mode only —
    ``session.python_worker_budget``): size the union's TWO branches so the
    whole output has AT MOST ``worker_budget`` partitions, split
    PROPORTIONALLY to each branch's row share.  (At most: the light
    branch is sized with ``coalesce``, which never widens — if the scan
    produced fewer partitions than the light share, the output falls
    short of the budget rather than paying the shuffle a ``repartition``
    would cost; the heavy branch always repartitions, it shuffles
    anyway.)  A naive downstream
    ``coalesce(budget)`` chunks the union's partitions by index, so the
    light branch's ~94% of bytes lands on half the tasks (measured: salted
    leg 8.1 → 10.8 s); the proportional split keeps every task near
    ``total/budget`` rows.  The heavy-row share comes for free from the
    sketch (``with_counts``) — no extra job.
    """
    n = num_partitions or cfg.target_partitions
    total = None
    if adaptive_threshold or worker_budget:
        total = df.select(F.count(F.lit(1)).alias("n")).first()["n"]
    thr = (
        effective_skew_threshold(df, cfg, n or 32, total=total)
        if adaptive_threshold
        else cfg.skew_turns_threshold
    )
    heavy_counts = heavy_conv_ids_materialized(df, thr, with_counts=True)
    if heavy_counts is not None:
        if not heavy_counts:
            return df  # no stragglers: zero shuffle, scan partitioning stands
        heavy_list = [c for c, _ in heavy_counts]
        # NULL conv_id: `isin` yields NULL, which a bare `~is_heavy` filter
        # drops — coalesce to False so null-keyed rows stay light-branch
        # (mirrors pipeline._salted_bucketed's when/otherwise form)
        is_heavy = F.coalesce(F.col("conv_id").isin(heavy_list), F.lit(False))
        light_rows = df.filter(~is_heavy)
        heavy_rows = df.filter(is_heavy)
        heavy_total = sum(c for _, c in heavy_counts)
    else:  # adversarial: too many heavy convs to inline — broadcast join
        heavy = skewed_conv_ids(df, thr)
        light_rows = df.join(F.broadcast(heavy), "conv_id", "left_anti")
        heavy_rows = df.join(F.broadcast(heavy), "conv_id", "left_semi")
        heavy_total = None  # share unknown without an extra job → no split
    heavy_rows = heavy_rows.withColumn(
        "_salt", F.pmod(F.col("turn_idx"), F.lit(cfg.salt_buckets))
    )
    if worker_budget and worker_budget >= 2 and heavy_total is not None and total:
        b_heavy = min(
            max(1, round(worker_budget * heavy_total / total)), worker_budget - 1
        )
        b_light = worker_budget - b_heavy
        heavy_balanced = heavy_rows.repartition(b_heavy, "conv_id", "_salt")
        return light_rows.coalesce(b_light).unionByName(heavy_balanced.drop("_salt"))
    if n:
        heavy_balanced = heavy_rows.repartition(n, "conv_id", "_salt")
    else:
        heavy_balanced = heavy_rows.repartition("conv_id", "_salt")
    return light_rows.unionByName(heavy_balanced.drop("_salt"))
