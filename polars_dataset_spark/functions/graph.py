"""Distributed connected components over a DataFrame edge list.

The reference has no graph machinery at all; this exists for the
transitive-closure step of fuzzy deduplication (ROUND1_NOTES "known
limitations"): MinHash/SimHash emit near-duplicate PAIRS, but a dedup
that keeps one representative per *cluster* needs the components of the
pair graph — a one-pass "drop the larger id of each pair" over-deletes
when A~B and B~C but A is also C's only link to the kept set.

Algorithm: alternating large-star / small-star contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC 2014 — public). The edge set monotonically contracts toward a
star forest (every node → its component's minimum id) in O(log^2 n)
rounds — on the chain graphs used in tests, ~log n doubling steps,
never the O(diameter) rounds naive label propagation would need.

Each round is ONE Spark action — its eager checkpoint — and two
shuffles: one keyed on u that deduplicates the symmetric edge view and
feeds large-star's window, one keyed on v for small-star's window. The
convergence test rides that job as ``Observation`` metrics: large-star's
window also counts each node's smaller and larger neighbours, which
decides EXACTLY whether the round's input was already a star forest,
the fixpoint of both contractions. So a star input costs one round,
and ``max_iter`` counts the rounds that change the edges (plus the one
that confirms). All DataFrame ops: the only values the Spark driver
reads are two observed longs per round — nothing scales with |V| or
|E| there.

Scale notes (100 TB / 1000-executor framing):
- Each round's shuffle is keyed on node id; skewed degree (one hub
  node) is exactly what large-star is designed to shatter — the hub's
  neighbors re-key to the component min after one round.
- The r9 window-min contractions trade AQE skew-join splitting for one
  exchange per contraction (the groupBy+join form moved the same rows
  but could split a skewed join partition at runtime): a hub key's rows
  now min-reduce inside one spill-capable window task. Deliberate: in
  this engine's pipelines the edge list is LSH/CC near-dup PAIRS that
  arrive after exact dedup (identical-document hubs are gone) and after
  banded candidate generation (per-doc fan-out bounded by bands ×
  bucket membership), so degree is bounded far below the 10^8-row
  single-task regime; a 10^7-degree residual hub is ~80 MB in one
  sorted-spill task, a straggler but not a failure, and it exists for
  exactly one round before large-star shatters it. If your edge source
  is raw (no upstream dedup), pass ``pre_contract=True`` — one salted
  two-level-min + AQE-skew-splittable-join large-star round before the
  window loop (the r9 docstring's prose escape hatch, now code).
- ``pin`` (eager) truncates lineage each round; without it the plan
  doubles per iteration and the optimizer re-walks ~2^rounds nodes.
  The pinned edges are not deduplicated (the next round's first
  shuffle does that), so a round stores at most twice the distinct
  edges of its input.
"""

from __future__ import annotations

import logging

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from polars_dataset_spark.session import pin

_log = logging.getLogger(__name__)

__all__ = ["connected_components", "dedup_by_components", "chain_edges", "pagerank"]


def _canonicalize(edges: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Undirected edges as (u, v) with u < v; duplicates are left to
    large-star's deduplicating shuffle."""
    e = edges.select(
        F.least(F.col(id_a), F.col(id_b)).cast("long").alias("u"),
        F.greatest(F.col(id_a), F.col(id_b)).cast("long").alias("v"),
    )
    return (
        e.filter(F.col("u") != F.col("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
    )


# both directions of every edge (u, v), in one narrow projection
_SYMMETRIC = "inline(array(named_struct('u', u, 'v', v), named_struct('u', v, 'v', u)))"


def _large_star(e: DataFrame, obs: Observation) -> DataFrame:
    """Connect every neighbor w > c to min(N(c) ∪ {c}), for every center c.
    Input and output are canonical (u < v), duplicates allowed: the
    symmetric view is deduplicated right after its shuffle on u, which
    already clusters (u, v), so the distinct and the window share one
    exchange. The emitted link (w, m) always has m < w, so (m, w) is
    already canonical.

    One window over the symmetric view instead of groupBy+join-back
    (r9): the same rows move (all of sym keyed on u) but the separate
    mins exchange and the join disappear. The traded-away piece is
    AQE's ability to skew-split the join-back for a pathological hub
    key; see the module docstring for why degree is bounded in this
    engine's pipelines and what to do when it isn't.

    The same window counts u's smaller (``lt``) and larger (``gt``)
    neighbors, and ``obs`` records, on the round's own job, the input's
    edge count and its STAR VIOLATIONS: nodes that are neither a root
    (lt = 0) nor a leaf of one smaller root (lt = 1, gt = 0). On
    canonical, distinct edges zero violations ⟺ the input is a forest
    of stars rooted at their minimum (a leaf's one neighbor has gt ≥ 1,
    so it is a root; a root's neighbors have lt ≥ 1, so they are
    leaves) — the fixpoint of both contractions. ``v = mn`` picks one
    row per node, so violations count nodes."""
    sym = e.selectExpr(_SYMMETRIC).repartition("u").distinct()
    win = sym.selectExpr(
        "u",
        "v",
        "min(v) OVER (PARTITION BY u) AS mn",
        "count_if(v < u) OVER (PARTITION BY u) AS lt",
        "count_if(v > u) OVER (PARTITION BY u) AS gt",
    ).observe(
        obs,
        F.expr("count_if(u < v)").alias("edges"),
        F.expr(
            "count_if(v = mn AND NOT (lt = 0 OR (lt = 1 AND gt = 0)))"
        ).alias("violations"),
    )
    return win.where("v > u").selectExpr("least(u, mn) AS u", "v")


def _small_star(e: DataFrame) -> DataFrame:
    """Center each edge at its LARGER endpoint; link all smaller neighbors
    (and the center) to the neighborhood minimum. On canonical input the
    directed view (center > neighbor) is just the edge list read as
    (center=v, nbr=u) — no symmetrize needed; emitted links (x, m) have
    m ≤ x, so (m, x) is canonical.

    Window-min + explode instead of groupBy+join+union (r9, see
    _large_star): per edge (u, v) with neighborhood min m, emit (m, u)
    (link the smaller neighbor) and (m, v) (link the center); the
    center link is emitted once per edge instead of once per center.
    No distinct: the next round's large-star collapses the repeats on
    the shuffle it makes anyway, so the output is at most twice the
    input's rows."""
    return (
        e.selectExpr(
            "min(u) OVER (PARTITION BY v) AS u", "explode(array(u, v)) AS v"
        )
        .where("u != v")
    )


def _large_star_salted(e: DataFrame, n_salt: int = 64) -> DataFrame:
    """Skew-armored first large-star round for RAW edge sources
    (``pre_contract=True``): per-center min via a salted two-level
    aggregate (every reduce key bounded by deg/n_salt, on top of hash
    agg's map-side partials), then a JOIN back — the form AQE can
    skew-split at runtime, unlike a window sort. One round of this
    shatters any hub (its neighbors re-key to the component min), after
    which the cheaper window-min rounds run on bounded-degree edges.
    Same contract as `_large_star`: canonical in, links (m, w) with
    m < w out, duplicates left to the loop's first large-star."""
    sym = e.selectExpr(_SYMMETRIC)
    lvl1 = sym.groupBy(
        "u", F.pmod(F.xxhash64("v"), F.lit(n_salt)).alias("__salt")
    ).agg(F.min("v").alias("__v1"))
    mins = (
        lvl1.groupBy("u")
        .agg(F.min("__v1").alias("__mn"))
        .select("u", F.least(F.col("u"), F.col("__mn")).alias("__m"))
    )
    return (
        sym.join(mins, on="u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("__m").alias("u"), F.col("v"))
    )


def _observed(obs: Observation, out: DataFrame) -> tuple[int, int]:
    """(distinct edges, star violations) of a round's input, read from the
    metrics its checkpoint job recorded. No metrics row comes back when
    no task ran; that is read as zero violations only if the round's
    output — empty exactly when its input is — has no edges."""
    try:
        m = obs.get
    except Py4JJavaError:
        if not out.isEmpty():
            raise
        return 0, 0
    return int(m["edges"]), int(m["violations"])


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    pre_contract: bool = False,
) -> DataFrame:
    """Components of the undirected graph given as an edge list.

    Returns ``(id, component)`` for every node that appears in an edge,
    where ``component`` is the minimum node id reachable from ``id``.
    Isolated nodes (absent from ``edges``) are absent from the result —
    join back ``how="left"`` + ``coalesce(component, id)`` if needed.

    Each round is ONE Spark action: large-star then small-star,
    materialized by an eager ``pin``, whose job also reports (via
    ``Observation``) whether the round's INPUT was already a star
    forest. If it was, the output equals the input and the loop stops,
    so a star input costs one round. ``max_iter`` bounds the rounds
    that change the edges: at most ``max_iter`` of them plus the one
    that confirms convergence, else ``RuntimeError``. With DEBUG on the
    ``polars_dataset_spark`` logger, each round logs its input's edge
    count and violating nodes (no extra job).

    ``pre_contract=True``: run ONE salted two-level-min large-star
    round (`_large_star_salted`) before the window-min loop — the
    escape hatch for RAW edge sources whose degree distribution is
    unbounded (no upstream exact-dedup / banded candidate generation):
    a hub key that would be one giant sorted-spill window task instead
    goes through an AQE-skew-splittable aggregate + join, and exists
    for exactly that one round. Off by default: this engine's dedup
    pipelines bound degree upstream, and the extra round costs a fixed
    ~2 exchanges.
    """
    # One checkpoint per round: pairing two contractions per checkpoint
    # was tried and is a net LOSS (the unrolled plan doubles in depth and
    # Catalyst's planning cost grows superlinearly with plan size).
    e = _canonicalize(edges, id_a, id_b)
    if pre_contract:
        e = _large_star_salted(e)
    for rnd in range(1, max_iter + 2):
        obs = Observation()
        e = pin(_small_star(_large_star(e, obs)), eager=True)
        n_edges, violations = _observed(obs, e)
        _log.debug(
            "connected_components round %d: %d edges, %d violating nodes",
            rnd, n_edges, violations,
        )
        if violations == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: no convergence in {max_iter} rounds"
        )
    # Converged star graphs: a non-root's minimum neighbor IS the root,
    # and the root's own minimum is itself — both covered by
    # least(node, min over neighbors) on the symmetric view.
    sym = e.selectExpr(_SYMMETRIC)
    return sym.groupBy("u").agg(F.min("v").alias("mv")).selectExpr(
        "u AS id", "least(u, mv) AS component"
    )


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    quality_col: str | None = None,
) -> DataFrame:
    """Transitive fuzzy dedup: keep one representative per connected
    component of the near-duplicate pair graph — the minimum id by
    default, or (``quality_col=``) the HIGHEST-quality member (ties to
    the lower id), the rule production pipelines actually want: of a
    boilerplate-mangled copy and a clean original, keep the clean one,
    whatever its id.

    This is the cluster-correct upgrade of ``minhash_dedup``'s one-pass
    rule: with pairs {(1,2),(2,3)}, one-pass drops {2,3} and keeps 1;
    so does this — but with pairs {(2,3)} plus (1 isolated), one-pass
    and CC agree, while with a chain 1-2, 2-3, 3-4 arriving as
    unordered pairs the CC answer is stable under pair ordering.

    Quality selection costs one extra broadcast-sized join and a
    per-component argmax (window over the component key — parallelism =
    component count, each component tiny by near-dup construction);
    null quality sorts last."""
    comp = connected_components(pairs, id_a=id_a, id_b=id_b)
    if quality_col is None:
        losers = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
        return df.join(losers, on=id_col, how="left_anti")
    scored = comp.join(
        df.select(F.col(id_col).alias("id"), F.col(quality_col).alias("__q")),
        on="id",
    )
    w = Window.partitionBy("component").orderBy(
        F.col("__q").desc_nulls_last(), F.col("id")
    )
    losers = (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") > 1)
        .select(F.col("id").alias(id_col))
    )
    return df.join(losers, on=id_col, how="left_anti")


def chain_edges(df: DataFrame, id_col: str, *group_cols: str) -> DataFrame:
    """Deterministic edge list linking consecutive ids (ascending) within
    each group: a length-k group becomes a k-node path. Paths are the
    adversarial case for naive label propagation (O(diameter) rounds) and
    exercise the star-contraction's doubling; used by the oracle-checked
    CC query, where the expected component of every node is its group
    minimum."""
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(F.col(id_col))
    return (
        df.select(
            F.col(id_col).alias("id_a"),
            F.lead(F.col(id_col)).over(w).alias("id_b"),
        )
        .filter(F.col("id_b").isNotNull())
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 0,
) -> DataFrame:
    """PageRank by power iteration — the crawl-prioritization score
    (Page et al. 1999; OPIC-style frontier ordering): rank mass flows
    along outlinks, ``damping`` of it each round, the rest teleports
    uniformly; DANGLING nodes (no outlinks — every sink page) hand
    their mass back uniformly each round, the detail naive
    implementations drop (without it rank mass leaks and totals drift
    below 1). Returns ``(node, rank)`` over every node appearing as a
    source or destination; ranks sum to 1 at every iteration.

    Scale shape (the canonical distributed-graph loop): per iteration
    ONE join of ranks onto edges by source + ONE hash aggregate on the
    destination — shuffle ∝ |edges|, never node-quadratic; the
    dangling-mass term is a 1-row aggregate cross-joined back (the
    bounded broadcast class the plan audit allowlists: q124/q144/
    q195). K is small and fixed (crawl ordering needs ~O(10) rounds);
    ``checkpoint_every`` > 0 severs lineage every C rounds for long
    runs (the connected_components precedent). Float note: round
    downstream, not here — sum order across partitions is engine's
    choice."""
    from polars_dataset_spark.session import ensure_parallelism, pin

    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = ensure_parallelism(edges).select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    # PIN the loop-invariant frames: every iteration joins `e` and
    # `outdeg` again, and without a lineage cut Catalyst re-derives
    # them from the SOURCE each round (measured: 111 scans in the
    # 3-iteration plan — K extra full passes over the edge input at
    # scale). Non-eager localCheckpoint materializes each once at
    # first use; same fault-tolerance tradeoff as connected_components
    # (blocks pinned on executors, lineage truncated).
    e = pin(e)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = pin(e.groupBy("src").agg(F.count("*").alias("__deg")))
    n_total = nodes.agg(F.count("*").cast("double").alias("__n"))
    # rank init 1/N: the one 1-row broadcast the whole loop shares
    ranks = nodes.crossJoin(F.broadcast(n_total)).select(
        "node", (F.lit(1.0) / F.col("__n")).alias("rank"), "__n"
    )
    for i in range(iterations):
        contrib = (
            e.join(ranks.select("node", "rank"), e["src"] == F.col("node"), "inner")
            .join(outdeg, "src")
            .select("dst", (F.col("rank") / F.col("__deg")).alias("__c"))
            .groupBy("dst")
            .agg(F.sum("__c").alias("__mass"))
        )
        dangling = (
            ranks.join(outdeg, ranks["node"] == outdeg["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm"))
        )
        ranks = (
            ranks.select("node", "__n")
            .join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    (F.lit(1.0) - F.lit(damping)) / F.col("__n")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__mass"), F.lit(0.0))
                        + F.col("__dm") / F.col("__n")
                    )
                ).alias("rank"),
                "__n",
            )
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = pin(ranks)
    return ranks.select("node", "rank")
