"""clustering.connected_components / strongly_connected_components.

Reference contracts:

- ``connected_components(Graph(is_directed=False)) -> NodeMap`` — node →
  component label; labels are arbitrary, only the PARTITION must match
  (abstract def ``plugins/core/algorithms/clustering.py:6-8``; nx impl
  ``plugins/networkx/algorithms.py:61-67``; scipy impl
  ``plugins/scipy/algorithms.py:18-23``; partition comparator
  ``tests/algorithms/test_clustering.py:33-51``).
- ``strongly_connected_components(Graph(is_directed=True)) -> NodeMap``
  (``clustering.py:11-13``; nx ``networkx/algorithms.py:69-75``).

Spark plan — hash-min label exchange:

- init ``label[v] = v``; each round ``label[v] = min(label[v], min over
  neighbors' labels)`` via (edges ⋈ labels on src) → groupBy(dst).min,
  unioned with the current labels; converge when no label changed.
- rounds = O(graph diameter); each round is one shuffle on the vertex-state
  table (edges stay put, hash-partitioned by src once).
- the "changed" count is computed in the same action that materializes the
  new labels' aggregate (one extra lightweight agg per round).

Our labels therefore equal min-reachable-node-id per component: a canonical
labeling, which trivially satisfies the partition-equality contract.

SCC uses forward-backward reachability coloring (FW-BW / coloring
algorithm): propagate min-id forward and backward; nodes agreeing on both
belong to the SCC of that min node. Iterated on the residual graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from metagraph_spark import routing
from metagraph_spark.exceptions import ConvergenceError
from metagraph_spark.graph import DST, ID, SRC, Graph
from metagraph_spark.state import CheckpointManager, truncate_lineage


def _min_label_fixpoint(
    spark,
    sym_edges: DataFrame,
    labels: DataFrame,
    max_rounds: int,
    fixed_rounds: int | None = None,
    checkpointer: CheckpointManager | None = None,
    start_round: int = 0,
    metrics_sink: list | None = None,
) -> DataFrame:
    """Iterate label[v] = min(label[v], min over in-neighbors) to fixpoint.

    ``labels``: (id, label). ``sym_edges`` must contain BOTH directions for
    undirected semantics. Returns the converged labels DataFrame.
    ``metrics_sink`` (optional list) receives one dict per round with the
    round index and changed-label count.
    """
    total = fixed_rounds if fixed_rounds is not None else max_rounds
    rnd = start_round
    while rnd < total:
        nbr_min = (
            sym_edges.join(
                labels.select(F.col(ID).alias(SRC), F.col("label")).hint(
                    "shuffle_hash"
                ),
                SRC,
            )
            .groupBy(F.col(DST).alias(ID))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, ID, "left")
            .select(
                ID,
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias(
                    "label"
                ),
                (F.col("nbr_label") < F.col("label")).alias("_changed"),
            )
        )
        # changed-count rides along with the materialization (observe):
        # one job per round
        obs = Observation(f"cc_round_{rnd}")
        new_labels = new_labels.observe(
            obs, F.count(F.when(F.col("_changed"), 1)).alias("changed")
        )
        new_labels = truncate_lineage(new_labels)
        changed = obs.get["changed"]
        if metrics_sink is not None:
            metrics_sink.append({"round": rnd, "changed": int(changed)})
        labels.unpersist()
        labels = new_labels.drop("_changed")
        rnd += 1
        if fixed_rounds is None and changed and rnd >= 3:
            # (engages from round 3: low-diameter graphs converge before
            # paying the extra per-round join; long chains still get the
            # logarithmic behavior from an O(1)-delayed start)
            # pointer jumping (shortcutting): label[v] <- label[label[v]].
            # Hash-min alone needs O(diameter) |E|-row rounds — a chain of
            # 100k nodes would blow max_rounds; with per-round shortcutting
            # label distances roughly double per round, giving the O(log V)
            # shape of the two-phase distributed CC algorithms. The jump is
            # a |V|-row self-join (cheap next to the |E| gather), preserves
            # the min-id-per-component fixpoint exactly, and a hash-min
            # round with zero changes is still a true fixpoint (labels are
            # then constant across every edge), so convergence detection is
            # unaffected. The fixed_rounds path stays pure hash-min — the
            # DuckDB oracle unrolls that exact recurrence.
            labels = truncate_lineage(
                labels.join(
                    labels.select(
                        F.col(ID).alias("label"), F.col("label").alias("_pl")
                    ),
                    "label",
                ).select(ID, F.col("_pl").alias("label"))
            )
        # checkpoint AFTER the jump so a resume continues from exactly the
        # state the loop would next consume — saving pre-jump labels was
        # still correct (any min-label state is) but silently discarded the
        # jump's progress on every resume
        if checkpointer is not None:
            labels = checkpointer.save(
                rnd - 1, labels, {"algorithm": "connected_components"}
            )
        if fixed_rounds is None and changed == 0:
            return labels
    if fixed_rounds is not None:
        return labels
    raise ConvergenceError(
        f"connected_components did not stabilize in {max_rounds} rounds"
    )


def _two_phase_cc(
    spark, edges: DataFrame, nodes: DataFrame, max_rounds: int
) -> DataFrame:
    """Alternating large-star / small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond"): the edge set
    itself is rewritten each round and SHRINKS toward a forest of stars
    centered at each component's minimum id — provably O(log V) rounds,
    and per-round volume decays with the edge set (hash-min re-joins the
    FULL |E| every round). Used for the converged path; the fixed-round
    oracle contract and checkpointed runs keep the hash-min loop.

    large-star(u): every neighbor v > u re-hooks to m = min(Γ(u) ∪ {u});
    small-star(u): every smaller neighbor re-hooks to the minimum one.
    Convergence: both phases observe their rewritten-edge count on the SAME
    materialization action (an edge is rewritten when its new endpoint
    differs from the old one; duplicate rows count multiply, which only
    matters for the ==0 test and is zero exactly when the set is a stable
    star forest); a round where neither phase rewrote anything means no
    extra confirmation round. Final labels: star leaves take their center,
    centers and isolates themselves.

    Plan shape (round 6, guide §2.4): each phase repartitions ONCE by its
    output ``u`` and every aggregation/join below that runs
    partition-local (``HashPartitioning(u)`` satisfies every clustering
    keyed on ``u``/``(u,v)``), so a round is exactly THREE edge-sized
    exchanges — sym 2|E|, large-star |E|, small-star |E| — instead of the
    previous ~6 (each distinct/groupBy/join paid its own). Dedup happens
    once per round (on the small-star output, where the star collapse
    actually shrinks the set); the large-star intermediate stays a
    multiset, which min() and the ==0 observes are insensitive to."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Narrower types (guide §2.3): when every edge endpoint fits int32
    # (``routing.fits_int32``, one scan-aggregate), the star rounds run on
    # int pairs — every per-round exchange and dedup halves its bytes.
    # Node ids outside the edge set (isolates) never enter the loop: they
    # take their own (long) id in the final label join, so only the edge
    # range gates the narrowing; labels are min-ids and cast back exactly.
    narrow = routing.fits_int32(edges)
    # round 1 consumes E as a MULTISET (min-aggregation and the ==0
    # observes are multiplicity-insensitive, and the large-star output is
    # deduped partition-local inside the round), so the initial
    # canonicalization pays NO exchange of its own — the raw canonical
    # pairs flow straight into round 1's sym repartition
    E = edges.filter(F.col(SRC) != F.col(DST)).select(
        F.greatest(SRC, DST).alias("u"), F.least(SRC, DST).alias("v")
    )
    if narrow:
        E = E.select(
            F.col("u").cast("int").alias("u"),
            F.col("v").cast("int").alias("v"),
        )
    if not E.take(1):
        # edgeless after self-loop removal: every node is its own star.
        # Must exit BEFORE the loop — AQE's empty-relation propagation
        # would prune the observe nodes out of an all-empty round and
        # Observation.get dies on the metric-less query.
        return truncate_lineage(
            nodes.select(ID, F.col(ID).alias("label"))
        )
    for rnd in range(max_rounds):
        # LARGE-STAR: m over ALL neighbors (both directions); one 2|E|
        # exchange, then the min-agg and the re-hook join share it
        sym = E.unionAll(
            E.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).repartition(n_part, "u")
        m = sym.groupBy("u").agg(F.min("v").alias("_mv")).select(
            "u", F.least("_mv", "u").alias("m")
        )
        obs_ls = Observation(f"cc2p_ls_{rnd}")
        ls = (
            sym.join(m.hint("shuffle_hash"), "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.col("m").alias("v"),
                (F.col("m") != F.col("u")).alias("_ch"),
            )
            .observe(
                obs_ls, F.count(F.when(F.col("_ch"), 1)).alias("changed")
            )
            .select("u", "v")
            .repartition(n_part, "u")
            # partition-local dedup (hash(u) satisfies (u,v) clustering):
            # shrinks everything small-star touches at zero exchange cost
            .dropDuplicates(["u", "v"])
        )
        # SMALL-STAR on the canonical (u > v) set: re-hook smaller
        # neighbors to the minimum one, keep (u, min)
        mn = ls.groupBy("u").agg(F.min("v").alias("m"))
        obs_ss = Observation(f"cc2p_ss_{rnd}")
        ss = (
            ls.join(mn.hint("shuffle_hash"), "u")
            .select(
                F.when(F.col("v") == F.col("m"), F.col("u"))
                .otherwise(F.col("v"))
                .alias("u"),
                F.col("m").alias("v"),
                (F.col("v") != F.col("m")).alias("_ch"),
            )
            .observe(
                obs_ss, F.count(F.when(F.col("_ch"), 1)).alias("changed")
            )
            .select("u", "v")
            .filter(F.col("u") != F.col("v"))
            .repartition(n_part, "u")
            .dropDuplicates(["u", "v"])
        )
        E = truncate_lineage(ss)
        if obs_ls.get["changed"] == 0 and obs_ss.get["changed"] == 0:
            star_min = E.groupBy(F.col("u").alias(ID)).agg(
                F.min("v").alias("_c")
            )
            if narrow:
                star_min = star_min.select(
                    F.col(ID).cast("long").alias(ID),
                    F.col("_c").cast("long").alias("_c"),
                )
            return truncate_lineage(
                nodes.join(star_min, ID, "left").select(
                    ID, F.coalesce("_c", F.col(ID)).alias("label")
                )
            )
    raise ConvergenceError(
        f"two-phase connected_components did not stabilize in "
        f"{max_rounds} rounds"
    )


def connected_components(
    graph: Graph,
    max_rounds: int = 200,
    fixed_rounds: int | None = None,
    checkpointer: CheckpointManager | None = None,
    strategy: str = "auto",
    kernel_spill_dir: str | None = None,
) -> DataFrame:
    """Return NodeMap ``(id: long, label: long)``; label = min node id in the
    component. Directed input is treated as its undirected underlying graph
    (matches nx ``connected_components`` requiring undirected,
    ``plugins/networkx/algorithms.py:61-67``).

    Physical strategy: the converged join path is SIZE-ROUTED — from
    ``routing.TWO_PHASE_MIN_EDGES`` edges up it runs alternating
    large-star / small-star rounds (:func:`_two_phase_cc` — O(log V)
    rounds on a SHRINKING edge set); below it the hash-min + pointer-jump
    loop wins (one |E|-row join per round vs two-phase's ~4 shuffles + 2
    distincts).
    ``fixed_rounds`` (the unrolled-SQL oracle contract) and checkpointed
    runs always keep the hash-min label exchange, whose per-round vertex
    state is what the resume protocol snapshots.

    ``strategy="kernel"``/``"auto"`` routes to the CSR-block hash-min
    kernel (``operators/kernel_algos.py:cc_kernel`` — segmented-min
    gather, pointer-jumped dense labels; EXACTLY the same labels;
    ``"auto"`` decides by ``routing.use_kernel``). The kernel keeps no
    durable per-round state, so it is never combined with a checkpointer
    (explicit ``"kernel"`` + checkpointer raises)."""
    if strategy not in ("join", "kernel", "auto"):
        raise ValueError(f"unknown connected_components strategy {strategy!r}")
    if strategy == "kernel" and checkpointer is not None:
        raise ValueError(
            "strategy='kernel' keeps no durable per-round state and cannot "
            "honor a checkpointer; use strategy='join' or 'auto'"
        )
    if routing.use_kernel(
        strategy, graph, kernel_spill_dir, checkpointer is not None
    ):
        from metagraph_spark.operators.kernel_algos import cc_kernel

        return cc_kernel(
            graph,
            max_rounds=max_rounds,
            fixed_rounds=fixed_rounds,
            spill_dir=kernel_spill_dir,
        )
    spark = graph.edges.sparkSession
    if (
        fixed_rounds is None
        and checkpointer is None
        and routing.two_phase_cc(graph.num_edges())
    ):
        # size-routed: two-phase only where its shrinking edge set wins;
        # smaller converged graphs fall through to hash-min + pointer jump
        return _two_phase_cc(
            spark,
            graph.edges.select(SRC, DST),
            graph.node_ids(),
            max_rounds,
        )
    # always symmetrize: CC is over the undirected underlying graph; persist
    # once, SRC-partitioned — every round reuses the edge layout and only
    # the |V|-row label state moves
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = graph.edges.select(SRC, DST)
    sym = (
        e.unionAll(e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST)))
        .repartition(n_part, SRC)
        .persist()
    )

    start_round = 0
    labels = None
    if checkpointer is not None:
        latest = checkpointer.latest()
        if latest is not None:
            labels = checkpointer.load(spark, latest).drop("_changed")
            start_round = latest + 1
    if labels is None:
        labels = truncate_lineage(
            graph.node_ids().select(ID, F.col(ID).alias("label"))
        )
    try:
        return _min_label_fixpoint(
            spark,
            sym,
            labels,
            max_rounds,
            fixed_rounds=fixed_rounds,
            checkpointer=checkpointer,
            start_round=start_round,
        )
    finally:
        sym.unpersist()


def incremental_connected_components(
    graph: Graph,
    prev_labels: DataFrame,
    max_rounds: int = 200,
    metrics_sink: list | None = None,
) -> DataFrame:
    """Converged CC WARM-STARTED from a previous labeling after edges were
    APPENDED (the streaming-ingest maintenance path,
    ``streaming/ingest_stream.py``: new micro-batches only ever add
    edges/nodes — deletions are out of contract).

    Correctness: with edge additions, every old component is a subset of
    exactly one new component, so each node's previous label (its old
    component's min id) is the id of a node inside its NEW component and
    ``>=`` the new minimum; hash-min therefore converges to exactly the
    cold run's min-id-per-component labels. Nodes absent from
    ``prev_labels`` (new actors) start at their own id, the cold init.

    Cost: rounds = O(diameter of the MERGE structure) — label corrections
    only propagate from where components fused — instead of the cold
    O(log V); a typical appended batch settles in 1-2 |E|-row rounds
    (asserted in tests). ``metrics_sink`` receives per-round changed
    counts so callers can observe exactly that."""
    spark = graph.edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = graph.edges.select(SRC, DST)
    sym = (
        e.unionAll(e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST)))
        .repartition(n_part, SRC)
        .persist()
    )
    labels = truncate_lineage(
        graph.node_ids()
        .join(prev_labels.select(ID, F.col("label").alias("_pl")), ID, "left")
        .select(ID, F.coalesce("_pl", F.col(ID)).alias("label"))
    )
    try:
        return _min_label_fixpoint(
            spark, sym, labels, max_rounds, metrics_sink=metrics_sink
        )
    finally:
        sym.unpersist()


def strongly_connected_components(
    graph: Graph, max_rounds: int = 200, max_outer: int = 50
) -> DataFrame:
    """Return NodeMap ``(id: long, label: long)`` of SCCs (directed).

    Coloring / FW-BW: propagate min-id along forward edges and along reverse
    edges; vertices where forward-color == backward-color == c form the SCC
    seeded by c. Peel those off and repeat on the residual graph. Each outer
    round removes at least one SCC; trim isolated/acyclic tails fast because
    singleton SCCs resolve immediately.
    """
    spark = graph.edges.sparkSession
    edges = truncate_lineage(graph.edges.select(SRC, DST).distinct())
    remaining = truncate_lineage(graph.node_ids())
    out = None

    for _ in range(max_outer):
        if remaining.isEmpty():
            break
        init = remaining.select(ID, F.col(ID).alias("label"))
        fwd = _min_label_fixpoint(spark, edges, truncate_lineage(init), max_rounds)
        rev_edges = edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
        bwd = _min_label_fixpoint(spark, rev_edges, truncate_lineage(init), max_rounds)
        scc = (
            fwd.withColumnRenamed("label", "f")
            .join(bwd.withColumnRenamed("label", "b"), ID)
            .filter(F.col("f") == F.col("b"))
            .select(ID, F.col("f").alias("label"))
        )
        scc = truncate_lineage(scc)
        out = scc if out is None else truncate_lineage(out.unionAll(scc))
        remaining = truncate_lineage(
            remaining.join(scc.select(ID), ID, "left_anti")
        )
        edges = truncate_lineage(
            edges.join(remaining.select(F.col(ID).alias(SRC)), SRC, "left_semi")
            .join(remaining.select(F.col(ID).alias(DST)), DST, "left_semi")
        )
    else:
        if not remaining.isEmpty():
            raise ConvergenceError(f"SCC did not finish in {max_outer} outer rounds")
    return out if out is not None else spark.createDataFrame([], "id long, label long")
