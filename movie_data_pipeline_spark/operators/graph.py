"""PageRank by power iteration — the second iterative-fixpoint
operator family beside connected components (``dedup.py::
duplicate_clusters``), with the same execution discipline: the driver
loop iterates ROUNDS (a fixed, small count), every round is pure
DataFrame algebra (one rank⋈edges shuffle + one groupBy(dst) shuffle),
and ``localCheckpoint`` cuts lineage every round or two so plans
don't snowball across iterations.

Semantics: standard damped PageRank on a directed edge list,
``r' = (1−d) + d·(Σ_in contrib + dangling_mass/N)`` with ranks summing
to N (node-count normalization, the convention where an isolated node
scores exactly 1). Dangling mass (rank parked on nodes with no
out-edges) is redistributed uniformly each round, so Σ ranks = N is an
INVARIANT in exact arithmetic — the conservation law the verification
gate pins, floats allowed a 1e-6·N tolerance. ``pagerank(…,
sources=…)`` is the personalized form of the same loop (Σ ranks = 1).

Scale posture: ranks and degrees are (node, value) tables partitioned
by node; edges shuffle once per round on src then once on dst — the
exact shape of the CC rounds, linear in |E| per iteration. The only
driver-visible values are 1-row aggregates (the dangling mass), joined
back with the established bounded crossJoin pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import shuffle_parallelism


# Rounds per eager lineage-cutting checkpoint in the PageRank loop.
# The checkpoint exists to truncate lineage (and its eagerness drives
# one Spark job per batch), so checkpointing every round pays n_iter
# scheduling/materialization overheads where ⌈n_iter/2⌉ suffice — the
# per-round SHUFFLE count is unchanged, only job boundaries move.
# Values beyond ~3 stop paying: plan depth per job grows linearly and
# codegen/analysis time eats the savings (measured 1 → 6.16 s,
# 2 → 5.15 s, 3 → 5.42 s at sf0.1, BASELINE.md).
_PAGERANK_CKPT_EVERY = 2


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
    weight: str | None = None,
    sources: DataFrame | None = None,
) -> DataFrame:
    """Ranks for every node appearing in ``edges`` (either endpoint),
    after ``n_iter`` synchronous power-iteration rounds. Returns
    (node, rank).

    Every round is ``r' = (1−d)·t + d·(Σ_in contrib + dmass·t/Σt)``
    for a teleport vector t; dangling mass (rank parked on nodes with
    no out-edges) lands on t's support, so Σ ranks = Σt is conserved
    and the iteration starts from r = t.

    - ``sources=None``: t ≡ 1, the node-count convention (Σ ranks =
      N, an isolated node scores exactly 1).
    - ``sources`` given: personalized PageRank (Jeh & Widom WWW'03
      random-surfer form) — t = 1/|S| on the source set S and 0
      elsewhere, so Σ ranks = 1 and rank measures proximity to the
      sources. ``sources`` is a 1-column DataFrame of node ids; ids
      absent from the graph are ignored (they could never receive
      mass), and a ValueError is raised when none appears.

    Parallel edges are legitimate weight (each contributes its own
    share); callers wanting simple-graph semantics should distinct()
    the edge list first. With ``weight`` set, each edge carries that
    column's (positive) value and a node's rank splits across its
    out-edges proportionally — contrib = rank·w / W_out(src), the
    weighted power iteration. The unweighted path is the w ≡ 1
    special case of the same dataflow (out-strength = out-degree), so
    conservation holds identically.

    Lineage is cut by one eager localCheckpoint every
    ``_PAGERANK_CKPT_EVERY`` rounds and on the last round.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")

    # materialize the edge relation once — it joins into every round,
    # and a DERIVED edge list (the trade graph is a fact-fact join +
    # distinct) would otherwise recompute per iteration. Same shuffle
    # discipline as ``hits`` (A/B-measured −15% there, BASELINE.md r8):
    # the checkpoint pins hash(src) on exactly the shuffle width, and
    # ``base`` comes out of joins keyed on node, so every round's
    # score join lines up two pre-partitioned sides and
    # EnsureRequirements inserts NO exchange — the edge relation is
    # shuffled once at setup instead of once per round; the only
    # per-round shuffle left is the contrib groupBy.
    w_col = (
        F.col(weight).cast("double") if weight else F.lit(1.0)
    ).alias("w")
    npart = shuffle_parallelism(edges.sparkSession)
    e = (
        edges.select(
            F.col(src).cast("long").alias("src"),
            F.col(dst).cast("long").alias("dst"),
            w_col,
        )
        # NULL / zero / negative weights carry no mass by definition;
        # keeping them would make contrib compute rank*0/0 = NaN when
        # a node's whole out-weight is 0 and silently poison every
        # reachable rank. Dropped edges may demote a node to dangling
        # (correct) or remove it from the graph entirely.
        .filter(F.col("w") > 0)
        .repartition(npart, "src")
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_deg = e.groupBy("src").agg(F.sum("w").alias("deg"))
    # degree-annotated node table, reused every round (deg NULL =
    # dangling); both join inputs are already hash-partitioned on the
    # key (distinct on node / groupBy on pre-partitioned src), and the
    # left join's output keeps the node partitioning the rounds need
    base = nodes.join(out_deg, nodes.node == out_deg.src, "left")
    if sources is None:
        base = base.select("node", "deg")
        members = F.lit(1)
    else:
        s = sources.select(
            F.col(sources.columns[0]).cast("long").alias("node")
        ).distinct()
        base = base.join(
            s.withColumn("_is_src", F.lit(True)), "node", "left"
        ).select(
            "node", "deg", F.coalesce("_is_src", F.lit(False)).alias("is_src")
        )
        members = F.when(F.col("is_src"), 1)
    base = base.localCheckpoint()
    # one bounded 2-scalar probe: teleport-support size (N, or the
    # sources present) + dangling-node count. When the graph has NO
    # dangling nodes — true for every symmetrized edge list (both
    # directions present ⇒ every node has an out-edge), e.g. the whole
    # trade-graph family — dmass is EXACTLY 0.0 every round, so the
    # per-round dangling aggregation and its 1-row crossJoin are dead
    # weight: each one re-executes the un-checkpointed ranks lineage a
    # second time per round and adds an exchange + broadcast. Skipping
    # the term is bit-exact (x + 0.0·anything ≡ x for the non-negative
    # contribs here); the dangling path is unchanged when
    # n_dangling > 0.
    probe = base.agg(
        F.count(members).alias("n"),
        F.count(F.when(F.col("deg").isNull(), 1)).alias("nd"),
    ).first()
    n_members, n_dangling = probe["n"], probe["nd"]
    # (tele, tele_sum) chosen so each round's arithmetic is bit-for-bit
    # the classical form: (1−d)·1.0 ≡ (1−d) and dmass·1.0/N ≡ dmass/N
    # for t ≡ 1; dmass·t/1.0 ≡ dmass·t for the personalized vector
    if sources is None:
        tele, tele_sum = F.lit(1.0), float(n_members)
    elif n_members == 0:
        raise ValueError("no source id appears in the graph")
    else:
        tele = F.when(F.col("is_src"), F.lit(1.0 / n_members)).otherwise(
            F.lit(0.0)
        )
        tele_sum = 1.0
    carry = base.columns[1:]  # deg (+ is_src, which tele reads)

    ranks = base.select("node", tele.alias("rank"), *carry)
    for it in range(n_iter):
        contrib = (
            ranks.join(e, ranks.node == e.src)
            .select(
                "dst", (F.col("rank") * F.col("w") / F.col("deg")).alias("c")
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        new_ranks = base.join(contrib, base.node == contrib.dst, "left")
        mass = F.coalesce(F.col("contrib"), F.lit(0.0))
        if n_dangling:
            dangling = ranks.filter(F.col("deg").isNull()).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass")
            )
            new_ranks = new_ranks.crossJoin(dangling)  # 1-row side
            mass = mass + F.col("dmass") * tele / F.lit(tele_sum)
        ranks = new_ranks.select(
            "node",
            (F.lit(1.0 - damping) * tele + F.lit(damping) * mass).alias("rank"),
            *carry,
        )
        if (
            it % _PAGERANK_CKPT_EVERY == _PAGERANK_CKPT_EVERY - 1
            or it == n_iter - 1
        ):
            ranks = ranks.localCheckpoint()
    return ranks.select("node", "rank")


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact triangle census of the undirected graph underlying
    ``edges`` (orientation/duplicates/self-loops ignored). Returns a
    single row ``(n_nodes, n_edges, n_triangles)``.

    Algorithm: degree-ordered wedge join (Suri & Vassilvitskii, WWW'11
    — the MapReduce-standard formulation). Each undirected edge is
    oriented from its lower endpoint to its higher endpoint under the
    total order π = (degree, node id); every triangle {x,y,z} with
    π(x)<π(y)<π(z) then appears EXACTLY once as the wedge x→y, x→z
    (π(y)<π(z)) closed by the oriented edge y→z. Orienting by degree
    bounds per-node out-degree by O(√E), so wedge generation is
    O(E^{3/2}) worst-case instead of Σdeg² hub-explosion — the
    difference between a skewed social graph finishing and not. Three
    shuffles total (degree agg, wedge self-join, closing semi-join);
    no iteration, no driver data.
    """
    # e has THREE consumers (degree agg, the oriented build, the edge
    # count) and ``oriented`` three more (both wedge sides + the
    # closing semi-join); without materialization every consumer
    # re-executes the full upstream derivation — for a derived edge
    # list (a fact-table self-join + distinct) that multiplied the
    # heaviest join 6×. Both relations are 2-3 longs per row, the
    # cheapest possible checkpoint payload. Integer-exact: the census
    # values cannot change.
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = (
        e.join(deg.select(F.col("n").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("deg").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    ).localCheckpoint()
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = x.join(y, F.col("x.a") == F.col("y.a")).filter(
        (F.col("x.db") < F.col("y.db"))
        | ((F.col("x.db") == F.col("y.db")) & (F.col("x.b") < F.col("y.b")))
    ).select(F.col("x.b").alias("wa"), F.col("y.b").alias("wb"))
    closed = wedges.join(
        oriented.select(F.col("a").alias("wa"), F.col("b").alias("wb")),
        ["wa", "wb"],
        "left_semi",
    )
    n_tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        n_nodes.crossJoin(n_edges).crossJoin(n_tri)  # all sides 1 row
        .select("n_nodes", "n_edges", "n_triangles")
    )


def k_core(edges: DataFrame, k: int, src: str = "src", dst: str = "dst",
           max_iter: int | None = None) -> DataFrame:
    """Nodes of the k-core — the maximal subgraph where every node has
    ≥ k neighbors INSIDE the subgraph — of the undirected graph under
    ``edges``. Returns (node, core_degree), core_degree being the
    node's degree within the core. The fourth iterative-fixpoint
    family (after connected components, PageRank, BPE): each peel
    round recomputes degrees on the surviving adjacency and drops
    nodes under k until a round drops nothing. On a bipartite
    interaction graph this is the classic alternating quality filter
    (drop users with < k items, then items with < k users, repeated
    to fixpoint — one subgraph both constraints hold on).

    Execution per round: one groupBy(node) degree aggregate + two
    semi-joins to shrink the adjacency — all keyed shuffles linear in
    surviving |E|; ``localCheckpoint`` cuts lineage per round; the only
    driver value is the 1-row surviving-node count that decides
    convergence. The fixpoint is unique (order of removals cannot
    change it), so the result is deterministic.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # node-keyed adjacency (hits/pagerank shuffle discipline): the
    # per-round degree groupBy and the node-side semi-join then reuse
    # this partitioning exchange-free; only the nbr-side semi-join and
    # the post-peel re-keying shuffle the surviving adjacency — 2
    # saved full-relation exchanges per peel round
    npart = shuffle_parallelism(edges.sparkSession)
    adj = (
        e.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(e.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
        .repartition(npart, "node")
        .localCheckpoint()
    )
    # Peel to the TRUE fixpoint: path/tree-like graphs can need O(n)
    # rounds (one node per round), so there is no default round cap —
    # termination is guaranteed because every non-converged round
    # strictly shrinks the surviving node count. ``max_iter`` is an
    # opt-in safety valve that RAISES (never silently returns a
    # non-k-core superset) if exhausted before convergence.
    n_nodes = adj.select("node").distinct().count()
    rounds = 0
    while True:
        deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("core_degree"))
        # keep has THREE consumers per round (the convergence count +
        # both semi-join sides of the peel); materialized once (r14)
        # so the degree aggregate runs once per round instead of three
        # times. Node-id payload only; integer-exact.
        keep = (
            deg.filter(F.col("core_degree") >= k).select("node")
            .localCheckpoint()
        )
        n_keep = keep.count()  # count over the materialized leaf
        if n_keep == n_nodes:
            break
        # the cap is checked BEFORE peeling again, so a graph that
        # converges in exactly max_iter peels succeeds — the raise
        # fires only when peel #(max_iter+1) would actually be needed
        if max_iter is not None and rounds >= max_iter:
            raise RuntimeError(
                f"k_core did not converge within max_iter={max_iter} "
                f"rounds ({n_keep} nodes still peeling); pass "
                f"max_iter=None for the unbounded fixpoint"
            )
        n_nodes = n_keep
        adj = (
            adj.join(keep, "node", "left_semi")
            .join(keep.select(F.col("node").alias("nbr")), "nbr", "left_semi")
            .repartition(npart, "node")
            .localCheckpoint()
        )
        if n_keep == 0:
            break
        rounds += 1
    return (
        adj.groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .filter(F.col("core_degree") >= k)
    )


# HITS L2-normalizes every _HITS_NORM_EVERY rounds and on the last
# round. Power iteration is scale-invariant, so the per-round
# normalization exists only to keep magnitudes inside double range —
# normalizing every k rounds (the final round always normalizes, so
# the returned scores are unit-L2 either way) yields the identical
# direction. Measured at sf0.1 (n_iter=10, min-of-2 warmed):
# every-round 10.5 s, every-5 9.3 s, end-only 8.5 s, with end-only
# final scores agreeing with every-round to 1.3e-16 — the two
# aggregate+broadcast subtrees per round are ~19% of the wall.
# Overflow bound: safe while λ^10 < 1e308 for λ the graph's dominant
# eigenvalue (≈ a generous hub-degree bound), i.e. λ up to 1e30.
_HITS_NORM_EVERY = 10


def hits(edges: DataFrame, src: str = "src", dst: str = "dst",
         n_iter: int = 10) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) on a directed edge
    list: authority(v) accumulates the hub mass of its in-neighbors,
    hub(u) accumulates the authority mass of its out-neighbors, with
    both score vectors L2-normalized every ``_HITS_NORM_EVERY`` rounds
    and on the last round. Returns (node, hub, authority) for every
    node on either endpoint; on a bipartite purchase graph hubs rank
    the buyers and authorities the suppliers.

    Lineage is cut every round, and on NON-NORM rounds with one
    checkpoint per round, not two (r14): auth's only within-round
    consumer there is the hub join, so the round's single hub
    checkpoint job computes the auth subtree in-line (same shuffle
    count, half the eager-job overhead). On norm rounds auth is
    checkpointed separately (it feeds both the norm aggregate and the
    hub join). Multi-ROUND batching (the PageRank cadence) remains
    rejected: it re-executes the shared un-checkpointed chain
    through the per-round norm crossJoins — measured 8.4 s -> 12.3 s
    at sf0.1. The only driver-bound data is the 1-row L2 norm joined
    back through the bounded-crossJoin pattern. Scores are floats whose low bits ride partition-sum order
    → rows-only in the registry; the gate pins the L2-norm invariants
    and exact graph cardinalities.

    Shuffle discipline (r6 verdict item 4): the edge relation is
    checkpointed TWICE up front — hash-partitioned by src and by dst
    on exactly ``spark.sql.shuffle.partitions`` partitions. Each
    round's score join then lines up a pre-partitioned edge copy with
    a score relation that is already hash-partitioned on the same key
    count (it comes out of the previous groupBy), so EnsureRequirements
    inserts NO exchange on either join side: the only per-round
    shuffles left are the two unavoidable groupBy aggregations. The
    big edge relation is shuffled once per key at setup instead of
    once per key per round.
    """
    # materialize the edge relation once per join key: every round
    # joins it twice, and without the checkpoint a derived edge list
    # (e.g. a join + distinct over fact tables) would recompute per
    # round. The checkpoint also pins the hash partitioning into the
    # LogicalRDD so every later round reuses it exchange-free. The
    # derivation (often a fact-table join + distinct) is evaluated
    # exactly ONCE — fused into the src-keyed checkpoint — and the
    # dst-keyed copy + node set read that checkpoint, not the facts.
    sess = edges.sparkSession
    npart = shuffle_parallelism(sess)
    e_by_src = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .repartition(npart, "src")
        .localCheckpoint()
    )
    e_by_dst = e_by_src.repartition(npart, "dst").localCheckpoint()
    nodes = (
        e_by_src.select(F.col("src").alias("node"))
        .union(e_by_src.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    hub = nodes.select("node", F.lit(1.0).alias("hub"))
    auth = nodes.select("node", F.lit(1.0).alias("authority"))

    def _l2_normalize(df: DataFrame, col: str) -> DataFrame:
        norm = df.agg(
            F.sqrt(F.sum(F.col(col) * F.col(col))).alias("_n")
        )
        return (
            df.crossJoin(F.broadcast(norm))  # 1-row side
            .select("node", (F.col(col) / F.col("_n")).alias(col))
        )

    # Inside the loop, nodes with score 0 (no in-edges for authority,
    # no out-edges for hub) are simply ABSENT from the aggregates:
    # they contribute nothing to the next round's sums or to the L2
    # norm, so dropping them mid-iteration is semantics-preserving and
    # saves two node-restoring joins per round; the final select
    # reinstates them at 0.
    for i in range(n_iter):
        do_norm = ((i + 1) % _HITS_NORM_EVERY == 0) or (i == n_iter - 1)
        auth = (
            e_by_src.join(hub, e_by_src.src == hub.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("authority"))
        )
        # ONE materialization per round, not two (r14 optimization):
        # auth feeds exactly one consumer inside the round (the hub
        # join), so the hub checkpoint job can compute the auth
        # subtree in-line — same shuffles, half the eager-job
        # scheduling/materialization overhead. This is NOT the
        # rejected multi-round batching (which re-executed the shared
        # un-checkpointed chain through the per-round norm crossJoins,
        # measured 8.4 s -> 12.3 s): the previous hub is always a
        # checkpointed leaf, so nothing is computed twice. On norm
        # rounds auth IS checkpointed first — _l2_normalize embeds its
        # input twice (the norm aggregate + the crossJoin side), so
        # normalizing an un-materialized subtree would re-derive it.
        if do_norm:
            auth = auth.localCheckpoint()
            auth = _l2_normalize(auth, "authority")
        hub = (
            e_by_dst.join(auth, e_by_dst.dst == auth.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("authority").alias("hub"))
        )
        if do_norm:
            # the raw hub is already a checkpointed leaf; the
            # normalized plan is one aggregate + crossJoin over it, so
            # a second loop-end checkpoint would buy nothing
            hub = hub.localCheckpoint()
            hub = _l2_normalize(hub, "hub")
        else:
            hub = hub.localCheckpoint()
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
        )
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """Multi-source BFS: (node, hops) with the MINIMUM hop count from
    any seed, explored ``max_hops`` synchronous frontier rounds.

    Same execution discipline as the fixpoint family above: edges are
    hash-partitioned on src once and localCheckpointed; each round is
    one frontier⋈edges shuffle, a distinct() to collapse the frontier,
    and an anti-join against the visited set — the Pregel BFS shape,
    linear in the edges touched per round. A node's first discovery
    round IS its minimum distance (frontier-order invariant), so no
    per-node min aggregation is needed. All-integer state: the result
    is exactly comparable across engines (the registry twin is a
    recursive CTE).

    ``max_hops`` is a true semantic bound (callers asking "within k
    hops"), not a convergence heuristic — the loop needs no emptiness
    probe, and an exhausted frontier just makes the remaining rounds
    no-ops on empty relations.
    """
    spark = edges.sparkSession
    npart = shuffle_parallelism(spark)
    e = (
        edges.select(
            F.col(src).cast("long").alias("src"),
            F.col(dst).cast("long").alias("dst"),
        )
        .repartition(npart, "src")
        .localCheckpoint()
    )
    visited = (
        seeds.select(F.col(node).cast("long").alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint()
    )
    frontier = visited.select("node")
    for k in range(1, max_hops + 1):
        nbrs = (
            frontier.join(e, frontier.node == e.src)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = (
            nbrs.join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(k))
            .localCheckpoint()
        )
        # visited is a union of already-checkpointed per-round leaves:
        # re-materializing the WHOLE visited set every round (r14 fix)
        # paid an extra O(|visited|) job per round for a plan that is
        # only ever scanned, and the union tree's depth is bounded by
        # max_hops — the lineage localCheckpoint exists to cut is
        # already cut at every leaf.
        visited = visited.unionAll(new)
        frontier = new.select("node")
    return visited
