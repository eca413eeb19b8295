"""Graph analytics over crawl edge tables: PageRank and connected
components, engineered for cross-engine determinism.

A crawl's natural output is a link graph (the edges table:
emit-per-occurrence src_url -> url rows). Ranking hosts/pages by link
structure is the canonical downstream analytics step (frontier
prioritization, spam domain triage), so the engine ships it as a
first-class operator.

Determinism design: floating-point PageRank is NOT reproducible across
engines — double addition is not associative, and shuffle order varies —
so score sums could never hash-match a DuckDB oracle. Ranks are therefore
kept in 64-bit integer fixed point (micro-rank units, 10^6 = 1.0), with
integer floor division for the per-edge contribution. Integer addition is
order-independent, so the result is bit-identical on any engine and any
partitioning, and the driver's value-hash gate can pin it exactly.

Scale posture: each iteration is one equi-join (edges ⋈ ranks, shuffled
on src) + one aggregation (shuffled on dst) — the standard Pregel-free
DataFrame formulation. ``iters`` is fixed (unrolled into the plan), so
Catalyst sees a static DAG; for 10+ iterations at 10^10 edges you would
checkpoint every few rounds like the crawl loop does (knob exposed).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000  # micro-rank fixed point: 10^6 == rank 1.0


def pagerank(
    edges: DataFrame, iters: int = 3, damping_pct: int = 85,
    src: str = "src", dst: str = "dst", checkpoint_every: int = 0,
    dangling: str = "drop",
) -> DataFrame:
    """(src, dst) edge list -> (id, rank) in micro-rank units.

    rank_0 = SCALE for every node; each round:
        rank_{i+1}(v) = (100 - damping_pct)% * SCALE
                        + sum over in-edges (u,v) of
                          (rank_i(u) * damping_pct) div (100 * outdeg(u))
                        [+ dangling share, see below]

    All integer arithmetic (div = floor division), so results are
    engine- and partitioning-independent.

    ``dangling``:
    - ``"drop"`` (default): dangling nodes keep the base term only —
      their mass leaves the system (the simple variant).
    - ``"redistribute"``: each round the summed rank of out-degree-0
      nodes is spread uniformly: every node additionally receives
      (dangling_sum * damping_pct) div (100 * n_nodes). Crawl host
      graphs are dangling-heavy (leaf pages), where the drop variant
      deflates every score. The share rides the plan as a broadcast
      1-row aggregate (crossJoin of a scalar frame — no driver
      collect, the plan stays lazy); integer sums keep it
      deterministic. Overflow bound: dangling_sum * damping_pct must
      stay under 2^63; dangling_sum is bounded by total system mass
      ~ n_nodes * SCALE, so the safe limit is n_nodes < ~10^11.

    ``checkpoint_every``: DISK_ONLY-checkpoint the rank table every k
    rounds to cut plan depth on long runs (0 = off; the unrolled plan is
    fine for small ``iters`` in drop mode). ``redistribute`` references
    the previous rank lineage TWICE per round (contrib join + dangling
    sum), so the unresolved plan grows ~2^iters if never truncated —
    that mode defaults to checkpointing every 2 rounds when the caller
    leaves checkpoint_every at 0 (pass an explicit value to override).
    """
    if dangling not in ("drop", "redistribute"):
        raise ValueError(f"dangling must be drop|redistribute: {dangling!r}")
    if dangling == "redistribute" and checkpoint_every == 0:
        checkpoint_every = 2
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    # the per-round contribution join needs BOTH the edge list and the
    # source's out-degree; keep their equi-join hoisted as ONE frame so
    # the loop body stays a single join per round (guide §2.4)
    e_w = e.join(outdeg, "src")
    base = (100 - damping_pct) * SCALE // 100
    rank = nodes.withColumn("rank", F.lit(SCALE).cast("long"))
    if dangling == "redistribute":
        n_nodes = nodes.agg(F.count("*").alias("n_nodes"))  # 1-row frame
        dangling_ids = nodes.join(
            outdeg.withColumnRenamed("src", "id"), "id", "left_anti")
    for i in range(iters):
        contrib = (
            e_w.join(rank.withColumnRenamed("id", "src"), "src")
            .select(
                F.col("dst").alias("id"),
                F.expr(f"(rank * {damping_pct}) div (100 * outdeg)")
                .alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("in_mass"))
        )
        gain = F.lit(base) + F.coalesce(F.col("in_mass"), F.lit(0))
        stepped = nodes.join(contrib, "id", "left")
        if dangling == "redistribute":
            dsum = (
                rank.join(dangling_ids, "id")
                .agg(F.coalesce(F.sum("rank"), F.lit(0)).alias("dmass"))
            )
            scalars = F.broadcast(dsum.crossJoin(n_nodes))
            stepped = stepped.crossJoin(scalars)
            gain = gain + F.expr(
                f"(dmass * {damping_pct}) div (100 * n_nodes)")
        rank = stepped.select("id", gain.cast("long").alias("rank"))
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            rank = rank.localCheckpoint(
                eager=True, storageLevel=StorageLevel.DISK_ONLY)
    return rank


def host_rank(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Crawl edges (src_url, url) -> per-host PageRank: project URLs to
    hosts, drop self-links, rank the host link graph. The glue between
    CrawlResult.edges and the frontier-prioritization / spam-triage use
    case (feed the ranks back as the A5 host_rank priority source)."""
    e = edges.select(
        F.lower(F.try_parse_url("src_url", F.lit("HOST"))).alias("src"),
        F.lower(F.try_parse_url("url", F.lit("HOST"))).alias("dst"),
    ).filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
        & (F.col("src") != F.col("dst"))
    )
    return pagerank(e, iters=iters).withColumnRenamed("id", "host")


def _components_driver(
    edges: DataFrame, rows: list[tuple], src: str, dst: str
) -> DataFrame:
    """Union-find over an already-collected edge-tuple list (min-id roots:
    union always attaches the larger root under the smaller, so each set's
    root is its minimum element — the same (id, component) contract as the
    distributed loop, computed in O(E a(E)) driver time)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:           # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    from pyspark.sql.types import StructField, StructType

    node_type = edges.schema[src].dataType
    schema = StructType([StructField("id", node_type),
                         StructField("component", node_type)])
    data = [(x, find(x)) for x in sorted(parent)]
    return edges.sparkSession.createDataFrame(data, schema)


def connected_components(
    edges: DataFrame, max_iters: int = 20,
    src: str = "src", dst: str = "dst",
    driver_threshold: int = 250_000,
) -> DataFrame:
    """(src, dst) undirected edge list -> (id, component) where component
    is the minimum node id reachable.

    Two physical strategies behind one contract:
    - edge count <= ``driver_threshold``: collect + union-find on the
      driver (the same bounded small-side-to-driver move as the Bloom
      bitsets and IVF centroids). An iterative DataFrame loop costs
      several Spark jobs PER ROUND regardless of data size — measured
      ~10 s for a 477-node pair graph at sf0.1 — while 10^5-10^6
      collected edges union-find in well under a second. 0 disables.
      DRIVER MEMORY: the probe holds up to threshold+1 edge tuples plus
      a parent dict keyed by node value — roughly 50-100 MB per 250k
      string-id edges (more for long ids; the threshold counts rows, not
      bytes). Size it to your driver heap.
    - above it: min-label propagation with a pointer-jumping shortcut
      (component <- component's component) each round, the DataFrame
      form of large-star/small-star — the 10^9-edge path.

    The size probe and the edge fetch are ONE pass (``limit(threshold+1)
    .collect()``): a separate count would execute the whole upstream plan
    (e.g. the LSH candidate pipeline behind near_dup_clusters) twice.
    When the probe overflows, the distributed loop's reused ``und`` frame
    is lineage-truncated (lazy DISK_ONLY localCheckpoint) so each
    iteration re-reads materialized blocks instead of re-running the
    upstream plan per round.

    Deterministic either way: labels are ids, min() is order-independent.
    The shortcut halves the remaining path each round, so convergence is
    O(log diameter) — max_iters=20 covers diameters up to ~2^20, vs the
    plain-propagation form where a 30-node chain silently exceeds 20
    rounds. The loop stops early when no label changes; if max_iters is
    exhausted while labels are still moving the result would be WRONG
    (split components), so that raises instead of returning."""
    if driver_threshold:
        probe = [
            (r[0], r[1])
            for r in edges.select(src, dst).limit(driver_threshold + 1).collect()
        ]
        if len(probe) <= driver_threshold:
            return _components_driver(edges, probe, src, dst)
        del probe
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    )
    labels = (
        und.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    changed = 0
    for _ in range(max_iters):
        neighbor_min = (
            und.join(labels.withColumnRenamed("id", "b"), "b")
            .groupBy("a").agg(F.min("component").alias("nbr_min"))
            .withColumnRenamed("a", "id")
        )
        stepped = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                ).alias("component"),
            )
        )
        # pointer jumping: shortcut through the label's own label (every
        # component value IS a node id, so it has a row in `stepped`)
        parent = stepped.select(
            F.col("id").alias("component"), F.col("component").alias("grand"))
        new_labels = (
            stepped.join(parent, "component", "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("grand"), F.col("component")),
                ).alias("component"),
            )
            .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1).count()
        )
        labels = new_labels
        if not changed:
            break
    if changed:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "— raise max_iters (result would have split components)")
    return labels
