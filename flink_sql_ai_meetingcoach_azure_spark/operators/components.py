"""Connected components over near-duplicate pair sets.

A near-dup pair list (from :func:`~.dedup.lsh_candidate_pairs`,
:func:`~.dedup.embedding_lsh_pairs`, :func:`~.dedup.simhash_pairs`, …) is an
edge list of an undirected graph; TRANSITIVE duplicate clusters are its
connected components. :func:`~.dedup.neardup_survivors` is the documented
greedy single-pass alternative (drops every ``id_b``); this module is the
principled one: along a chain a~b~c it keeps exactly ONE representative per
cluster instead of dropping both b and c.

Algorithm: alternating large-star / small-star contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
the canonical shuffle-based CC algorithm. Each round is two groupBy-min
passes over the edge list; the edge set converges to a star forest (every
node points at its component's minimum id) in O(log² n) rounds, independent
of component diameter — a plain min-label propagation needs O(diameter)
rounds and dies on chain-shaped clusters, exactly the shape transitive
near-dup chains take. Every round ends in ``localCheckpoint`` to cut the
iterative lineage (on a cluster, set a checkpoint dir and swap for
``checkpoint``; the call is the documented seam).

Determinism: representative = component minimum id; no randomness, no
order dependence — identical output under any partitioning or retry.

Reference parity note: the reference app dedups by exact md5 content hash
only (app/utils/kafka_utils.py:209-217); transitive near-dup clustering is
part of this repo's beyond-reference training-data curation layer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, functions as F


def _canonical_edges(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """(u, v) with u < v, distinct, self-loops dropped."""
    a, b = F.col(id_a), F.col(id_b)
    return (
        pairs.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Components of the undirected graph given by ``pairs``.

    Returns one row per node that appears in ``pairs``:
    ``(node, component)`` where ``component`` is the minimum node id of the
    node's component (so ``node == component`` marks the representative).
    Nodes with no edges don't appear — callers join back to the corpus.

    Each large-star/small-star round is two shuffles keyed by node id:
    the symmetrized edges are hash-repartitioned ONCE per star and both
    the ``min`` aggregation and the re-attach join read that same
    exchange (ReusedExchange — r13: the groupBy/join pair used to shuffle
    its input twice per star, 7 exchanges per round are now 4); the edge
    list only ever shrinks toward the star forest, never grows past its
    input size, so per-round cost is bounded by the initial pair count.
    Convergence is probed per round by a cheap order-invariant checksum
    computed as an ``observe`` metric DURING the per-round checkpoint
    materialization (zero extra jobs — r13; AQE runs one job per
    exchange, so driver-sequential jobs are the real round cost) and
    confirmed exactly (two-sided ``exceptAll``) only when the checksum
    first reports a stable edge set.
    """
    def _edge_metrics() -> tuple[Observation, list]:
        # unordered-set checksum of a distinct edge set: ``observe``
        # metrics ride the checkpoint job.  xxhash64 over both endpoints;
        # bit_xor is order-invariant and cannot overflow under ANSI mode
        # (a sum of hashes can).
        obs = Observation()
        return obs, [
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ]

    obs0, m0 = _edge_metrics()
    edges = _canonical_edges(pairs, id_a, id_b).observe(obs0, *m0).localCheckpoint()
    prev_stats = (obs0.get["n"], obs0.get["h"])

    for _ in range(max_iter):
        # -- large-star: group the symmetrized edges by node; every
        # strictly-larger neighbor re-attaches to min(neighborhood ∪ self).
        # One explicit hash repartition feeds BOTH the min-aggregate and
        # the re-attach join, so neither adds its own exchange (no
        # numPartitions given — AQE stays free to coalesce).
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        sym_p = sym.repartition("u")
        m = sym_p.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        # the mid-round distinct stays: a size-c duplicate clique emits
        # O(c²) large-star rows that collapse to O(c) distinct edges, and
        # the small-star join must not see the inflated multiset at scale
        large = (
            sym_p.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.least("v", "m").alias("u"), F.greatest("v", "m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star: group by the LARGER endpoint; it and all its
        # smaller neighbors re-attach to the minimum of the group (same
        # single-repartition discipline).  The (c, m) union branch needs
        # no pre-distinct of its own: the outer distinct's map-side
        # partial aggregation collapses the per-partition duplicates
        # before the shuffle, so a hot c emits at most one row per
        # partition either way (r13: dropped — one exchange less).
        bigend = large.select(F.col("v").alias("c"), F.col("u").alias("n")).repartition("c")
        sm = bigend.groupBy("c").agg(F.min("n").alias("m"))
        joined = bigend.join(sm, "c")
        obs, mets = _edge_metrics()
        small = (
            joined.select(F.col("n").alias("x"), F.col("m"))
            .union(joined.select(F.col("c").alias("x"), F.col("m")))
            .filter(F.col("x") != F.col("m"))
            .select(F.col("m").alias("u"), F.col("x").alias("v"))
            .distinct()
            .observe(obs, *mets)
            .localCheckpoint()
        )
        # cheap convergence probe: count + order-invariant checksum read
        # from the checkpoint job's observed metrics.  Only when the
        # checksum claims stability do we pay the exact two-sided
        # exceptAll confirmation — so a 64-bit collision can cost one
        # extra verification job but never a wrong early stop.
        cur_stats = (obs.get["n"], obs.get["h"])
        if cur_stats == prev_stats:
            # one confirmation job, not two: union the two difference
            # directions and probe for any surviving row
            changed = (
                small.exceptAll(edges)
                .union(edges.exceptAll(small))
                .limit(1)
                .count()
            )
            if changed == 0:
                edges = small
                break
        prev_stats = cur_stats
        edges = small

    # star forest: every edge is (root, member). Emit members + roots.
    return (
        edges.select(F.col("v").alias("node"), F.col("u").alias("component"))
        .union(
            edges.select(F.col("u").alias("node"), F.col("u").alias("component"))
        )
        .distinct()
    )


def duplicate_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Every row of ``df`` labeled with its duplicate-cluster id.

    ``cluster`` = min id of the row's transitive near-dup component
    (the row's own id when it duplicates nothing); ``cluster_size`` counts
    the cluster's members inside ``df``. One CC pass + one left join +
    one partial-aggregated count.
    """
    comp = connected_components(pairs, id_a, id_b).withColumnRenamed("node", id_col)
    labeled = df.join(comp, id_col, "left").withColumn(
        "cluster", F.coalesce(F.col("component"), F.col(id_col))
    ).drop("component")
    sizes = labeled.groupBy("cluster").agg(F.count("*").alias("cluster_size"))
    return labeled.join(sizes, "cluster")


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Keep exactly one representative (the minimum id) per transitive
    near-dup cluster — the principled alternative to the greedy
    :func:`~.dedup.neardup_survivors`: a~b~c keeps a (and only a) whether
    or not a and c collided directly."""
    comp = connected_components(pairs, id_a, id_b).withColumnRenamed("node", id_col)
    return (
        df.join(comp, id_col, "left")
        .filter(F.col("component").isNull() | (F.col("component") == F.col(id_col)))
        .drop("component")
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
    salt: str = "split",
    split_col: str = "split",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Train/val/test split keyed on the near-dup CLUSTER, not the row:
    every transitive near-duplicate of a row lands in the SAME split, so a
    paraphrase of a training example can never leak into eval — the
    contamination mode a per-row hash split cannot prevent. Composition of
    :func:`duplicate_clusters` and the hash-bucket
    :func:`~.sampling.deterministic_split` (retry-stable, rand()-free),
    keyed on the cluster id."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.sampling import (  # noqa: PLC0415
        deterministic_split,
    )

    labeled = duplicate_clusters(df, pairs, id_col, id_a, id_b)
    return deterministic_split(labeled, "cluster", weights, salt, split_col)


def triangle_count(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Global triangle count of the undirected graph in ``pairs`` —
    degree-ordered wedge join (Suri & Vassilvitskii, WWW'11 — public):
    orient every edge from the (degree, id)-smaller endpoint to the
    larger, join oriented edges on their SOURCE to enumerate wedges,
    and close each wedge against the oriented edge set. Orientation
    bounds every node's out-degree by O(sqrt(m)), so the wedge join is
    O(m^1.5) TOTAL and hot hubs cannot square: a star's center gets
    rank-high and receives edges instead of fanning out wedges.

    Returns one row: (n_nodes, n_edges, n_wedges, n_triangles).

    r13 shape: the canonical edge set is ``localCheckpoint``-ed FIRST, so
    the upstream pair computation (typically a SimHash/LSH band join —
    the expensive part) runs exactly once; the old form recomputed it for
    the ``n_edges`` and ``n_nodes`` aggregates. The wedge join likewise
    runs once: wedges LEFT-join the (distinct) closing edge set with a
    marker and ONE aggregate counts both ``n_wedges`` (all rows) and
    ``n_triangles`` (marker hits) — closing is distinct so the left join
    can't duplicate a wedge.
    """
    e = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("u"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    ranked = (
        sym.join(deg.withColumnRenamed("u", "__n").withColumnRenamed("d", "du"),
                 F.col("u") == F.col("__n")).drop("__n")
        .join(deg.withColumnRenamed("u", "__n").withColumnRenamed("d", "dv"),
              F.col("v") == F.col("__n")).drop("__n")
    )
    # orient: keep only edges where (du, u) < (dv, v)
    oriented = ranked.filter(
        (F.col("du") < F.col("dv"))
        | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    ).select("u", "v").localCheckpoint()
    # wedges: two oriented edges out of the same source
    w1 = oriented.select(F.col("u").alias("s"), F.col("v").alias("a"))
    w2 = oriented.select(F.col("u").alias("s"), F.col("v").alias("b"))
    wedges = w1.join(w2, "s").filter(F.col("a") < F.col("b"))
    # close the wedge: (a, b) must be an oriented edge in EITHER direction
    closing = oriented.select(
        F.col("u").alias("a"), F.col("v").alias("b")
    ).union(oriented.select(F.col("v").alias("a"), F.col("u").alias("b")))
    wt = wedges.join(
        closing.distinct().withColumn("__t", F.lit(1)), ["a", "b"], "left"
    )
    counts = wt.agg(
        F.count(F.lit(1)).alias("n_wedges"),
        F.count("__t").alias("n_triangles"),
    )
    return (
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(counts)
        .select("n_nodes", "n_edges", "n_wedges", "n_triangles")
    )


def pagerank(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iters: int = 3,
    damping_pct: int = 85,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """PageRank over the undirected graph in ``pairs`` (each edge walks
    both ways), in EXACT integer parts-per-billion — the centrality
    signal that ranks a near-dup cluster's canonical document (or a
    citation/link corpus's authoritative pages) for keep-best curation.

    Every quantity is a BIGINT: initial rank ``scale // n``, per-edge
    contribution ``rank div out_degree``, update
    ``(100-damping_pct)*scale // (100*n) + damping_pct*sum(contrib) div
    100``. Integer floor division at every step means float summation
    order NEVER enters — identical output under any partitioning,
    retry, or engine, so the whole iteration is hash-verifiable against
    an unrolled SQL oracle.

    Scale shape: the edge-with-degree relation is built once and
    ``localCheckpoint``-ed; each iteration is ONE hash join (ranks onto
    edges by source — shuffle carries one scalar per node) plus ONE
    map-side-combinable sum keyed by destination, with a
    ``localCheckpoint`` truncating the iterative lineage (swap for
    ``checkpoint`` with a checkpoint dir on a cluster — same seam as
    :func:`connected_components`). ``iters`` is fixed, so job count is
    bounded; n (node count) is the only driver scalar.
    """
    e = _canonical_edges(pairs, id_a, id_b)
    # checkpoint the symmetric edge list FIRST: everything below (degrees,
    # node set, n, and the per-iteration join relation) derives from it, so
    # the upstream pair computation (often an LSH/SimHash join — the
    # expensive part) runs exactly once
    sym = e.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    ).localCheckpoint()
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    edges = sym.join(deg, "src").localCheckpoint()
    n = deg.count()
    if n == 0:
        return deg.select(
            F.col("src").alias("node"), F.lit(0).cast("long").alias("rank_ppb")
        )
    base = ((100 - damping_pct) * scale) // (100 * n)
    nodes = deg.select(F.col("src").alias("node")).localCheckpoint()
    ranks = nodes.select("node", F.lit(scale // n).cast("long").alias("r"))
    for _ in range(iters):
        contrib = edges.join(
            ranks, edges["src"] == ranks["node"]
        ).select(F.col("dst"), F.expr("r div d").alias("c"))
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(sums, nodes["node"] == sums["dst"], "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
                ).cast("long").alias("r"),
            )
            # lazy: each rank vector is consumed exactly once (by the next
            # iteration), so a fixed small ``iters`` chains into ONE job at
            # the final action instead of one eager job per round; the
            # checkpoint still truncates lineage when it materializes
            .localCheckpoint(eager=False)
        )
    return ranks.select(
        "node", F.col("r").alias("rank_ppb")
    ).orderBy(F.desc("rank_ppb"), F.asc("node"))


def bfs_hops(
    pairs: DataFrame,
    sources: DataFrame,
    iters: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Multi-source BFS over the undirected graph in ``pairs``: for every
    node reachable from any source within ``iters`` hops, the EXACT
    minimum hop count. ``sources`` is a 1-column DataFrame of node ids.

    Min-relaxation rounds (Bellman-Ford with unit weights, the recurrence
    of the registry's unrolled SQL oracle): round ``i`` is ``dist_i(n) =
    min(hops)`` over ``dist_{i-1}`` left-joined to the adjacency list, each
    row stepping to itself at weight 0 and to its neighbors at weight 1.
    ``dist_{i-1}`` is referenced once per round, so all ``iters`` rounds
    form one lazy plan that grows linearly, and the caller's action is its
    only materialization: no driver round trip per round. The symmetric
    edge list is checkpointed once up front, so the rounds' concurrent
    query stages read it instead of each recomputing the pair subtree.
    Cost: at most ``iters`` x the edges that touch the reached set; a
    round past the graph's radius repeats its predecessor's work (no early
    exit, which would need a job per round). ``iters`` is the radius bound
    (hop-bounded neighborhoods are the product shape: 'everything within
    k links of a flagged doc').
    Deterministic: BFS levels are partition- and retry-invariant."""
    edges = _canonical_edges(pairs, id_a, id_b)
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    src = sources.select(F.col(sources.columns[0]).alias("node")).distinct()
    dist = src.withColumn("hops", F.lit(0).cast("bigint"))
    for _ in range(iters):
        dist = (
            dist.join(sym, F.col("node") == F.col("u"), "left")
            .select(
                "hops",
                F.posexplode(F.array("node", "v")).alias("step", "node"),
            )
            # a node without edges keeps only its zero-weight self step
            .filter((F.col("step") == 0) | F.col("node").isNotNull())
            .groupBy("node")
            .agg(F.min(F.col("hops") + F.col("step")).alias("hops"))
        )
    return dist


def kcore(
    pairs: DataFrame,
    k: int,
    iters: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """k-core peeling over the undirected graph in ``pairs``: repeatedly
    drop nodes with degree < k (and their edges), ``iters`` rounds.
    Returns (node, degree) of the surviving subgraph — at fixpoint this
    is the k-core, the standard dense-subgraph primitive (boilerplate/spam
    farms in a near-dup graph are high-core; chance collisions peel away).

    Each round is one combinable degree count + two node-keyed semi joins
    — cost bounded by the CURRENT edge set, which only shrinks. Fixed
    rounds keep the operator oracle-unrollable; callers wanting the exact
    fixpoint loop until the edge count stabilizes (tests assert the demo
    graph converges within the default rounds)."""
    edges = _canonical_edges(pairs, id_a, id_b).localCheckpoint(eager=False)
    prev_cnt = edges.count()
    for _ in range(iters):
        if prev_cnt == 0:
            break
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        keep = (
            sym.groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select(F.col("u").alias("node"))
        )
        edges = (
            edges.join(keep, edges["u"] == keep["node"], "left_semi")
            .join(keep, F.col("v") == keep["node"], "left_semi")
            .localCheckpoint(eager=False)
        )
        # peeling only ever REMOVES edges, so an unchanged count IS an
        # unchanged edge set: further rounds are no-ops and early exit
        # returns exactly the fixed-round (and fixpoint) answer — the
        # count is one cheap action over the already-checkpointed blocks
        cnt = edges.count()
        if cnt == prev_cnt:
            break
        prev_cnt = cnt
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .select(F.col("u").alias("node"), "degree")
    )


def label_propagation(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str,
    rounds: int = 3,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Fixed-round SYNCHRONOUS label propagation (Raghavan et al. 2007)
    — community detection, the modularity-flavored sibling of
    :func:`connected_components` (CC answers "reachable at all?", LPA
    answers "densely attached where?"): every node starts with its own
    id as label; each round, a node adopts the MOST FREQUENT label among
    its neighbors, ties broken by smallest label, isolated nodes keep
    theirs. The deterministic synchronous variant (all updates read the
    previous round — no update-order dependence, so an unrolled SQL CTE
    reproduces every round bit-for-bit; classic async LPA is
    nondeterministic by design and un-oracle-able).

    Scale shape: per round one edge⋈label join (edge-sized), one
    combinable (node, label) count, one combinable min-struct argmax —
    all linear in edges; fixed rounds bound the job count exactly like
    pagerank/kcore/bfs. ``localCheckpoint`` cuts the per-round lineage
    (swap for ``checkpoint`` on a cluster).

    Returns ``(id_col, community)`` for every node of ``nodes``.
    """
    edges = _canonical_edges(pairs, id_a, id_b)
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=False)
    for _ in range(rounds):
        votes = (
            sym.join(labels, sym["v"] == labels["node"])
            .select(sym["u"].alias("n"), "label")
            .groupBy("n", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        mode = (
            votes.groupBy("n")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l"))
                ).alias("b")
            )
            .select(F.col("n").alias("node"), F.col("b.l").alias("__new"))
        )
        labels = (
            labels.join(mode, "node", "left")
            .select(
                "node", F.coalesce("__new", "label").alias("label")
            )
            .localCheckpoint(eager=False)
        )
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("community"))
