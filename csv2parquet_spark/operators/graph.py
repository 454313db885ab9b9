"""Iterative graph algorithms over pair DataFrames (engine extension —
the reference has no graph surface; companion to
``operators/dedup.py:connected_components``).

PageRank here is the Pregel-on-DataFrames shape: one hash-partitioned
edge relation reused every superstep, rank state re-derived by a
join + groupBy per iteration, ``localCheckpoint`` truncating lineage so
the plan stays iteration-count-independent. At 100 TB the edge relation
is partitioned by src once and every superstep's join co-locates on
that key — the per-round cost is one shuffle of the (vertex, rank)
state, never the edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csv2parquet_spark.operators.scan import localcheckpoint_partitioned


def _named(col: str, name: str):
    """``F.col(col).alias(name)`` ONLY when the name actually changes.

    A same-name alias (``F.col("src").alias("src")``) mints a fresh
    expression id in the ANALYZED plan that the optimizer then strips
    as redundant — so the physical plan (and the partitioning a
    subsequent ``localcheckpoint_partitioned`` records) keeps the OLD
    id while the checkpointed Dataset's output carries the new one,
    and the recorded layout never matches downstream (r12: the LPA
    superstep kept its edge Exchange for exactly this reason). A plain
    column reference reuses the attribute as-is; a genuine rename
    survives into the physical projection, so either way the recorded
    partitioning binds to the output ids.
    """
    return F.col(col) if col == name else F.col(col).alias(name)


# Per-contribution decimal cast: IEEE addition is not associative, so
# rank sums are accumulated in DECIMAL(38,18) — bit-identical results
# regardless of partial-aggregation order (same discipline as
# queries/helpers.dsum, which pins the 6dp variant engine-wide).
_DEC = "decimal(38,18)"


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list.

    Deterministic by construction: per-edge contributions are
    decimal-cast before summing, dangling mass is redistributed
    uniformly from an exact decimal total, and the iteration count is
    fixed (no float-compared convergence test). Output: (id, rank)
    with rank rounded to 6dp, summing to ~1.

    Vertices = union of endpoints. Uniform initial rank 1/N.
    """
    from pyspark.sql import Observation

    e = edges.select(_named(src, "src"), _named(dst, "dst")).distinct()
    nobs = Observation()
    vertices = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        # vertex count rides the materialization (see pagerank_fixed)
        .observe(nobs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n = int(nobs.get["n"])  # scalar: one number to the driver
    if n == 0:
        # empty graph (e.g. everything filtered upstream): an empty
        # rank relation, not ZeroDivisionError at 1/n (review r8)
        return vertices.withColumn("rank", F.lit(0.0).alias("rank"))
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # Edge relation with degree attached, partitioned once and reused
    # every superstep (checkpoint pins it; nothing recomputes).
    # Partition-preserving checkpoints (r12; see pagerank_fixed): ed
    # keeps hash(src) so the superstep contrib joins stop re-exchanging
    # the edge relation every iteration.
    ed = localcheckpoint_partitioned(e.join(out_deg.hint("shuffle_hash"), "src"))

    ranks = vertices.withColumn("rank", F.lit(1.0 / n)).localCheckpoint()
    for _ in range(n_iter):
        # shuffle_hash on the vertex-state side: checkpointed frames
        # lose stats, so the planner would pick sort-merge and re-sort
        # the edge relation every superstep (see label_propagation).
        contrib = (
            ed.join(
                ranks.select(F.col("id").alias("src"), "rank").hint("shuffle_hash"),
                "src",
            )
            .select("dst", (F.col("rank") / F.col("deg")).cast(_DEC).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        # Dangling vertices (no out-edges) leak their rank; redistribute
        # it uniformly. The total is a 1-row exact decimal aggregate.
        dangling = (
            ranks.join(out_deg.select(F.col("src").alias("id")), "id", "left_anti")
            .agg(F.coalesce(F.sum(F.col("rank").cast(_DEC)), F.lit(0).cast(_DEC)).alias("dm"))
        )
        ranks = (
            ranks.select("id")
            .join(contrib.select(F.col("dst").alias("id"), "inflow"), "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("inflow").cast("double"), F.lit(0.0))
                        + F.col("dm").cast("double") / n
                    )
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks.select("id", F.round("rank", 6).alias("rank"))


def pagerank_fixed(
    edges: DataFrame,
    n_iter: int = 5,
    damp_num: int = 85,
    damp_den: int = 100,
    scale: int = 10**12,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """FIXED-POINT power-iteration PageRank: ranks live in integer
    ``1/scale`` units (BIGINT end-to-end) and damping is the rational
    ``damp_num/damp_den``, so every operation is integer multiply /
    add / floor-divide — exact, associative, and therefore identical
    across partitionings, retries, AND engines (the float variant
    above is deterministic per engine run but its double arithmetic is
    not portable SQL). The recurrence per iteration:

        r'(v) = ((damp_den-damp_num)·scale) // (damp_den·n)
                + (damp_num · (Σ_{u→v} r(u)//deg(u) + dm//n)) // damp_den

    with ``dm`` the summed rank of dangling vertices. Floor divisions
    shed ≤1 unit of mass each — the fixed-point algorithm is DEFINED by
    this recurrence (it is not an approximation of the float one), so
    an independent implementation reproduces it bit-for-bit.

    Same scale shape as :func:`pagerank`: the edge relation is built
    and checkpointed once; each superstep shuffles only (vertex, rank)
    BIGINT pairs. The dangling mass rides the SAME checkpoint
    materialization via ``observe`` (an exact BIGINT sum over the
    no-out-edge vertices, flagged once at init) and enters the next
    iteration as a literal — the r5 shape recomputed it per iteration
    with a separate anti-join + aggregate + broadcast exchange, a whole
    extra job per superstep (the CC observe-fusion pattern,
    operators/dedup.py). Output: (id, rank_fp) in ``1/scale`` units.
    """
    from pyspark.sql import Observation

    # Materialize the DISTINCT edge relation FIRST (r11): vertices and
    # the degree-annotated edge relation both derive from it, and
    # without this checkpoint each of their materializations re-ran the
    # caller's whole edge-construction map (tokenize/explode/distinct)
    # from the raw input — twice per run, on however few tasks the
    # source scan has. One pass builds it; everything below reads the
    # checkpoint blocks.
    e = (
        edges.select(_named(src, "src"), _named(dst, "dst"))
        .distinct()
        .localCheckpoint()
    )
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # Vertex relation carries a static has-out-edges flag so every
    # iteration's dangling sum is a map-side CASE over the state
    # relation, not a join.
    # Partition-preserving checkpoints (r12): vertices keeps hash(id)
    # and ed keeps hash(src), so each superstep's contrib join and
    # rank-update join reuse the recorded layout instead of
    # re-exchanging the edge relation and the vertex set every
    # iteration (the r11 plans re-exchanged both, n_iter times). The
    # heavy distinct edge build (e above) stays on the plain checkpoint
    # so it keeps AQE.
    nobs = Observation()
    vertices = localcheckpoint_partitioned(
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .join(
            out_deg.select(F.col("src").alias("id"), F.lit(True).alias("has_out")),
            "id",
            "left",
        )
        .select("id", F.coalesce("has_out", F.lit(False)).alias("has_out"))
        # vertex count rides the SAME materialization via observe (the
        # CC fixpoint pattern) — the separate count() job over the
        # checkpoint was one more driver round-trip per call (r12).
        .observe(nobs, F.count(F.lit(1)).alias("n"))
    )
    n = int(nobs.get["n"])  # scalar: one number to the driver
    if n == 0:
        # empty graph: empty ranks, not a ZeroDivisionError (review r8)
        return vertices.select("id", F.lit(0).cast("long").alias("rank_fp"))
    ed = localcheckpoint_partitioned(e.join(out_deg.hint("shuffle_hash"), "src"))

    base = ((damp_den - damp_num) * scale) // (damp_den * n)

    def dangling_sum():
        return F.coalesce(
            F.sum(F.when(~F.col("has_out"), F.col("r"))), F.lit(0)
        ).cast("long").alias("dm")

    obs = Observation()
    ranks = localcheckpoint_partitioned(
        vertices.withColumn("r", F.lit(scale // n).cast("long"))
        .observe(obs, dangling_sum())
    )
    dm = int(obs.get["dm"])

    # NOTE (r11 measured negative): fusing superstep PAIRS into one
    # materialization job — the mid-step's dangling mass carried
    # in-plan as a broadcast 1-row aggregate — was A/B'd here and
    # reverted: the saved checkpoint job was fully offset by the
    # mid-state's contrib join re-executing for the dangling aggregate
    # (2.46 vs 2.43 s on textrank at sf0.1, executor time UP). The
    # simple one-job-per-superstep loop stays.
    for _ in range(n_iter):
        # shuffle_hash: same rationale as the float variant above.
        contrib = (
            ed.join(
                ranks.select(F.col("id").alias("src"), "r").hint("shuffle_hash"),
                "src",
            )
            .select("dst", F.expr("r DIV deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").cast("long").alias("inflow"))
        )
        obs = Observation()
        ranks = localcheckpoint_partitioned(
            vertices.join(
                contrib.select(F.col("dst").alias("id"), "inflow"), "id", "left"
            )
            .select(
                "id",
                "has_out",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damp_num} * (coalesce(inflow, CAST(0 AS BIGINT))"
                        f" + {dm} DIV {n})) DIV {damp_den}"
                    )
                ).cast("long").alias("r"),
            )
            .observe(obs, dangling_sum())
        )
        dm = int(obs.get["dm"])
    return ranks.select("id", F.col("r").alias("rank_fp"))


__all__ = ["pagerank", "pagerank_fixed", "copurchase_edges"]


def copurchase_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    weighted: bool = True,
    partition_on: str | None = None,
) -> DataFrame:
    """Directed co-occurrence edges (src, dst[, w]) — every ordered pair
    of DISTINCT items sharing a group; ``w`` counts the groups where the
    pair co-occurs.

    Built by grouping items per key (``collect_set`` dedups inside the
    same shuffle a separate ``.distinct()`` would cost) and expanding
    all ordered pairs MAP-SIDE from the per-group array, instead of the
    textbook self-join — one exchange of the raw rows replaces the
    distinct + double join exchange, and the quadratic blow-up stays
    basket-bounded (m² per group, never items²). The pair aggregation
    is the one unavoidable big shuffle; at 100 TB it's the same
    hash-partitioned count any formulation pays.

    ``partition_on`` ("src" or "dst") leaves the OUTPUT partitioned on
    the superstep join key, by repartitioning the RAW pairs BEFORE the
    aggregation: HashPartitioning(dst) satisfies
    ClusteredDistribution([src, dst]), so the distinct / count
    aggregation reuses the exchange — one pair-sized shuffle total,
    where aggregate-then-repartition paid two (measured 2.8 → 0.5 s at
    sf0.1 on the unweighted path). The weighted path adopted the same
    fused shape in r12: the r11 symmetry variant (emit each unordered
    pair once, aggregate half the rows, mirror, repartition) halved the
    explode CPU but paid TWO exchanges (raw half + mirrored aggregate,
    1.5·E rows total) where the fused ordered emission pays one
    exchange of E raw rows and no mirror union — interleaved A/B at
    sf0.1: LPA end-to-end best 4.52 → 3.52 s, median 4.85 → 4.31;
    relation verified identical by exceptAll in both directions
    (2 392 000 edges, 0 diff). The unpartitioned weighted path keeps
    the plain aggregate (its one exchange IS the groupBy; r11 measured
    the mirror union negative there too, basket_lift 1.55 → 1.79 s).

    NULL group keys are dropped BEFORE grouping (review r9): the
    equivalent relational formulation is a self-equi-join on the group
    key, where ``NULL = NULL`` never matches and NULL-group rows
    contribute no pairs — but ``groupBy`` lumps every NULL-key row into
    ONE pseudo-basket, silently minting pairs the SQL shape never
    produces AND detonating the basket-bounded m² expansion on the one
    key real corpora are dirtiest in (same class as the r8
    salted_join_hot NULL-routing fix). NULL items need no filter:
    ``collect_set`` drops them, matching the self-join's NULL-never-
    equal semantics.
    """
    per_group = df.filter(F.col(group_col).isNotNull()).groupBy(group_col).agg(
        F.collect_set(item_col).alias("items")
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                "items",
                lambda x: F.transform(
                    F.filter("items", lambda y: y != x),
                    lambda y: F.struct(x.alias("src"), y.alias("dst")),
                ),
            )
        )
    )
    pairs = per_group.select(pair.alias("p")).select("p.src", "p.dst")
    if partition_on:
        pairs = pairs.repartition(partition_on)
    if weighted:
        return pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))
    return pairs.distinct()


def label_propagation(
    edges: DataFrame,
    n_iter: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    ckpt_every: int = 1,
    symmetric: bool = False,
) -> DataFrame:
    """Synchronous weighted Label Propagation (Raghavan et al. 2007)
    community detection, ``n_iter`` fixed supersteps — deterministic by
    construction so results are engine- and partitioning-independent:
    integer edge weights, next label = the neighbor label with the MAX
    total incident weight, ties to the SMALLEST label, all vertices
    updated simultaneously. Returns ``(id, lbl)`` after the last step.

    The argmax is ``max(struct(tw, -lbl))`` — ONE re-aggregation after
    the per-label weight sum (lexicographic struct max ≡ max weight,
    ties to smallest label), replacing the r5 join-back shape (max per
    vertex → join → filter → min), which cost an extra exchange plus a
    join every superstep. The DuckDB oracle keeps the explicit
    two-aggregate form (its aggregates can't order structs); results
    are identical by construction. Per superstep: one join of the
    checkpointed edge relation with the (vertex, label) state + the
    two chained aggregations — the shuffled state is vertices and
    candidate labels, never the edge payload; same Pregel cost model
    as :func:`pagerank`.
    """
    # The edge relation is checkpointed in the layout the caller built:
    # localCheckpoint preserves outputPartitioning, so edges that arrive
    # hash(dst)-partitioned (copurchase_edges(partition_on="dst")) make
    # every superstep's join exchange only the (vertex, label) state,
    # never the edges.
    e = edges.select(
        _named(src, "src"), _named(dst, "dst"), _named(weight, "w")
    )
    # Partition-preserving checkpoint (r12): the plain localCheckpoint
    # recorded UnknownPartitioning under AQE, so supersteps 2..n each
    # re-exchanged the full edge relation (plans/r11/lpa_*, Exchange
    # hashpartitioning(dst) per superstep) — the one cost the
    # pre-partitioning existed to remove.
    e = localcheckpoint_partitioned(e)
    labels = None
    if not symmetric:
        labels = localcheckpoint_partitioned(
            e.select(F.col("src").alias("id")).distinct()
            .select("id", F.col("id").alias("lbl"))
        )
    elif n_iter <= 0:
        # Zero supersteps on the symmetric path: the loop (whose first
        # iteration normally materializes the identity projection)
        # never runs, so return identity labels explicitly — on a
        # symmetric graph the src set IS the vertex set (ADVICE r6:
        # the superstep-1 shortcut left this returning None).
        labels = (
            e.select(F.col("src").alias("id")).distinct()
            .select("id", F.col("id").alias("lbl"))
        )
    for it in range(n_iter):
        # Initial labels are the identity (lbl(v) = v), so on a
        # SYMMETRIC graph — every dst also appears as a src, which the
        # caller asserts with ``symmetric=True`` — superstep 1's state
        # join is the identity projection lbl = dst: no init relation,
        # no distinct, no join. (On a general digraph the join also
        # FILTERS to dst ∈ src-set, so the shortcut would be wrong.)
        if it == 0 and symmetric:
            joined = e.select("src", F.col("dst").alias("lbl"), "w")
        else:
            # shuffle_hash on the state side: a checkpointed frame loses
            # stats, so the planner falls back to sort-merge and re-SORTS
            # the edge relation every superstep (measured 2.5× the whole
            # superstep). Hash-building on (vertex, label) is the right
            # strategy at every scale — the state is vertex-sized, the
            # probe side keeps e's partitioning, nothing sorts.
            joined = e.join(
                labels.select(F.col("id").alias("dst"), "lbl").hint("shuffle_hash"),
                "dst",
            )
        nbr = joined.groupBy("src", "lbl").agg(F.sum("w").alias("tw"))
        # Lexicographic struct max = (max weight, ties to SMALLEST
        # label via the negated key). Labels are non-negative ids, so
        # the negation is loss-free.
        labels = (
            nbr.groupBy("src")
            .agg(F.max(F.struct(F.col("tw"), (-F.col("lbl")).alias("nl"))).alias("m"))
            .select(F.col("src").alias("id"), (-F.col("m.nl")).alias("lbl"))
        )
        # Default ckpt_every=1 (r12): a superstep plan that references
        # the edge checkpoint more than once loses its recorded
        # partitioning on the re-aliased occurrences (the
        # DeduplicateRelations caveat on localcheckpoint_partitioned)
        # and re-exchanges the EDGES — per-superstep state
        # materialization keeps every plan single-reference, so only
        # the (vertex, label) state ever moves. The r5-r11 cost model
        # that favored skipping checkpoints predates the partitioned
        # checkpoint: back then each materialization re-exchanged the
        # edges anyway, so fewer jobs won; measured a wash at sf0.1 AND
        # sf1 now, and edge-exchange-free is the right 100 TB shape
        # (state is vertex-sized, edges are not). ckpt_every>1 remains
        # for callers that want fewer jobs over partition reuse.
        if (it + 1) % ckpt_every == 0:
            # hash(src)-partitioned from the argmax aggregation; keeping
            # it recorded lets the next superstep's state join reuse the
            # layout (alias-tracked src → id → dst) instead of
            # re-exchanging the state.
            labels = localcheckpoint_partitioned(labels)
    return labels


def bfs_hops(
    edges: DataFrame,
    source: int | None,
    n_iter: int = 4,
    src: str = "src",
    dst: str = "dst",
    ckpt_every: int = 1,
) -> DataFrame:
    """Breadth-first hop distances from ``source`` over a directed edge
    list, ``n_iter`` synchronous relaxation supersteps — returns
    ``(id, d)`` for every vertex reached within ``n_iter`` hops
    (unreached vertices are absent, so the result is deterministic and
    engine-portable with no sentinel conventions). ``source=None``
    starts from the smallest src vertex, computed from the CHECKPOINTED
    edge relation (callers used to pre-collect it from their own edge
    plan, which executed the expensive edge build twice).

    Per superstep: the current distance relation joins the checkpointed
    edges, candidate ``d+1`` rows union the existing relation, and a
    min-groupBy keeps the best distance — the shuffled state is
    (vertex, distance), never edges; same Pregel cost model as
    :func:`pagerank` / :func:`label_propagation`. Default
    ckpt_every=1 (r12): a relaxation plan that references the edge
    checkpoint twice loses the recorded hash(src) layout on the
    re-aliased second occurrence (see localcheckpoint_partitioned) and
    re-exchanges the edges — one state materialization per superstep
    keeps every plan single-reference, so only (vertex, distance)
    moves; measured a wash at sf0.1/sf1 and structurally right at
    scale. Identical results for any ckpt_every since min-relaxation
    is a CRDT merge.
    """
    # The checkpoint preserves the caller's layout: edges that arrive
    # hash(src)-partitioned (copurchase_edges(partition_on="src")) make
    # only the distance state exchange per round.
    from pyspark.sql import Observation

    e = edges.select(_named(src, "src"), _named(dst, "dst"))
    # Partition-preserving checkpoint (r12, same fix as
    # label_propagation): keep hash(src) recorded so each relaxation's
    # state join moves only the (vertex, distance) side. The default
    # source (min src) rides the SAME materialization via observe —
    # the separate agg job over the checkpoint was one more driver
    # round-trip (observe is a pass-through node: verified it keeps
    # the recorded partitioning).
    sobs = Observation()
    e = localcheckpoint_partitioned(e.observe(sobs, F.min("src").alias("s0")))
    if source is None:
        source = sobs.get["s0"]
        if source is None:
            # empty edge relation: no source exists — empty distances,
            # not int(None) (review r8)
            return e.sparkSession.createDataFrame([], "id bigint, d bigint")
    from csv2parquet_spark.queries.helpers import local_result_df

    # VALUES LocalRelation (r11): createDataFrame(list) materializes a
    # pickled-RDD partition through a Python worker just to checkpoint
    # one (id, 0) row.
    dist = local_result_df(
        e.sparkSession, [(int(source), 0)], "id bigint, d bigint"
    ).localCheckpoint()
    for i in range(n_iter):
        # shuffle_hash for the same reason as label_propagation: the
        # checkpointed state has no stats, and sort-merge would re-sort
        # the edges every relaxation.
        cand = (
            e.join(
                dist.select(F.col("id").alias("src"), "d").hint("shuffle_hash"),
                "src",
            )
            .select(F.col("dst").alias("id"), (F.col("d") + 1).alias("d"))
        )
        dist = dist.unionByName(cand).groupBy("id").agg(F.min("d").alias("d"))
        if (i + 1) % ckpt_every == 0 or i == n_iter - 1:
            # hash(id) from the min-groupBy; preserved so the next
            # relaxation's edge join reads the state co-partitioned.
            dist = localcheckpoint_partitioned(dist)
    return dist
