"""Connected components over candidate-pair edges — the cluster-formation
step of near-duplicate deduplication.

Pair finders (MinHash-LSH banding, SimHash, embedding blocking) emit
EDGES; production dedup needs CLUSTERS: transitively connected groups
from which one canonical document survives. A doc similar to B and B to
C must collapse to one cluster even when A-C was never a candidate pair.

Algorithm: iterative min-label propagation with pointer jumping. Every
node starts labeled with itself; each round every node takes the min of
its own label and its neighbors' labels; at fixpoint every member of a
component carries the component's minimum node id (which doubles as a
stable canonical id).

Plain propagation needs rounds = graph diameter. On top of it, every
round after the first ``_JUMP_WARMUP`` steps also applies path halving
(the Shiloach-Vishkin pointer-jumping idea): every label is replaced by
its label's label, so label-tree depth halves per round and convergence
is O(log diameter). That extra self-join buys chain-shaped components
(templated/boilerplate documents form them) safety from the round
budget: a 200-link chain converges in ~10 rounds instead of 200. The
warmup exists because the overwhelmingly common near-dup cluster is
diameter <= 2, where plain propagation already converges and the hop
join would be one pure-overhead shuffle per round; deep chains still
get halving from round 3 on, keeping the O(log d) budget (2 + log2 d
rounds). Labels equal a driver-side union-find's (property-tested on
chains, cliques, and random graphs).

The alternating large-star/small-star algorithm (Kiveris et al.,
SoCC'14) is not used: on the registry's near-dup pair sets it ran 27
Spark jobs per call against 10 here (PARITY.md).

Continuous ingest keeps the labels current with ONE incremental fold,
``incremental_components_delta``: contract a batch's edges onto the
current cluster reps, run the CC above on that batch-sized graph, and
report what moved (``ComponentsDelta``). It has two faces. The delta
face hands the moves and first-seen rows to a caller that appends them
to a latest-wins label log (the streaming curation sink); the
full-table face, ``incremental_components``, applies them to a flat
label table in one relabel join. Both equal a full recompute over the
union of all batches.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..checkpoint import release_local_checkpoint
from ..util import EPOCH_COL, latest

log = logging.getLogger(__name__)

# propagation-only warmup steps before every round adds the hop join
# (see the module docstring): shallow graphs converge inside the warmup
# at plain-propagation cost, deep chains still halve from round 3 on.
_JUMP_WARMUP = 2

# Relabel-delta broadcast gate for the incremental maintenance path:
# 2 long columns ~ 160 MB build side at this row count. Above it the
# hint is withheld so the relabel join degrades to a shuffle join
# instead of hitting the 8 GB broadcast ceiling (same rule as
# plans/hints.py::broadcast_if_under).
BROADCAST_DELTA_MAX_ROWS = 10_000_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """Resolve ``edges`` (undirected; direction of the input pairs is
    ignored) into (node, cluster_id) where ``cluster_id`` is the minimum
    node id of the component — a deterministic canonical id.

    Only nodes that appear in an edge are returned (singletons have no
    edges; callers union them back with cluster_id = own id if needed).
    Each iteration ``localCheckpoint``s the label frame: plain persist()
    caches data but leaves the logical plan growing (it doubles per
    round — by round 12 merely *formatting* the plan OOMs the driver),
    while checkpointing truncates lineage so plan size stays constant no
    matter the diameter. localCheckpoint stores blocks on executors; on
    a cluster with dynamic allocation use a reliable checkpoint dir
    instead. Raises if ``max_iterations`` rounds don't converge
    (diameter larger than the budget) rather than returning
    half-propagated labels.
    """
    # NULL node ids fail loudly (same stance as operators/sampling.py):
    # a NULL can't label a component; silently emitting a (NULL, NULL)
    # cluster row would corrupt downstream canonical-doc selection
    bad = F.col(src).isNull() | F.col(dst).isNull()

    def _checked(c: str) -> Column:
        return F.when(
            bad,
            F.raise_error(
                F.lit("connected_components: edge endpoints must not be NULL")
            ),
        ).otherwise(F.col(c))

    # bidirectional view via explode, not self-union: the (possibly
    # expensive) upstream edge plan is evaluated ONCE during bi's cache
    # materialization instead of once per union branch (r12, guide §2.4
    # — the LSH pair pipeline ran twice per CC call before). The view
    # also carries a SELF-LOOP per endpoint (r12): each round's "min of
    # my label and my neighbors' labels" then falls out of the one
    # join+groupBy — the per-round union branch that re-read the label
    # checkpoint for the self rows is gone, and the label table is
    # referenced exactly once per step (which is what makes the fused
    # first action below cheap). Cache layout: partitioned by the
    # round-join key `b` — distinct's (a, b) grouping is satisfied by
    # hash(b), so the build pays the SAME single exchange it always
    # did, while every round's bi-side join exchange disappears
    # (guide §2.4: operations keyed the same way share one exchange).
    bi = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        _checked(src).alias("a"), _checked(dst).alias("b")
                    ),
                    F.struct(
                        _checked(dst).alias("a"), _checked(src).alias("b")
                    ),
                    F.struct(
                        _checked(src).alias("a"), _checked(src).alias("b")
                    ),
                    F.struct(
                        _checked(dst).alias("a"), _checked(dst).alias("b")
                    ),
                )
            ).alias("__e")
        )
        .select(F.col("__e.a").alias("a"), F.col("__e.b").alias("b"))
        .repartition("b")
        .distinct()
        .persist()
    )

    def _step(labels: DataFrame | None) -> DataFrame:
        """One label-propagation step: (node, cluster_id, __old) where
        cluster_id = min label over self + neighbors, __old = the
        incoming label (via the self-loop row). Round 1 needs no label
        table at all — labels start as the identity, so the step is a
        single map-side-combined groupBy over the edge set."""
        if labels is None:
            return (
                bi.groupBy(F.col("a").alias("node"))
                .agg(F.min("b").alias("cluster_id"))
                .select("node", "cluster_id", F.col("node").alias("__old"))
            )
        joined = bi.join(labels, bi["b"] == labels["node"]).select(
            bi["a"].alias("node"),
            (bi["a"] == bi["b"]).alias("__self"),
            F.col("cluster_id"),
        )
        return joined.groupBy("node").agg(
            F.min("cluster_id").alias("cluster_id"),
            F.min(F.when(F.col("__self"), F.col("cluster_id"))).alias("__old"),
        )

    # r12 round shape (guide §1.2/§2.4): exactly ONE action per round —
    # the changed-count, which doubles as the materialization of that
    # round's LAZY localCheckpoint (eager=True would spend a separate
    # job on the same scan). The FIRST action fuses steps 1+2: shallow
    # (star-shaped) components — the dominant near-dup case — converge
    # at step 1, and the old shape paid a second full action purely to
    # observe that; chaining step 2 lazily onto step 1 inside one
    # checkpoint+count does the identical total compute in half the
    # actions (step 2 is the detection round either way), and deeper
    # graphs continue with single-step rounds at unchanged cost.
    # `max_iterations` stays a budget on STEPS, not actions.
    labels = None
    try:
        it = 0
        while it < max_iterations:
            first_action = labels is None
            stepped = _step(labels)
            it += 1
            if first_action and it < max_iterations:
                stepped = _step(stepped.select("node", "cluster_id"))
                it += 1
            if it - 1 >= _JUMP_WARMUP:
                # path halving: follow the label one hop (every label IS
                # a node id present in `stepped`, by induction from the
                # self-labeled start) — label-tree depth halves per round
                # (the fused first action covers steps 0-1, both inside
                # the warmup, so the hop never applies to a fused step)
                hop = stepped.select(
                    F.col("node").alias("__jn"),
                    F.col("cluster_id").alias("__jc"),
                )
                stepped = stepped.join(
                    hop, stepped["cluster_id"] == hop["__jn"]
                ).select(
                    "node",
                    F.col("__jc").alias("cluster_id"),
                    F.col("__old"),
                )
            merged = stepped.select(
                "node",
                "cluster_id",
                (F.col("cluster_id") < F.col("__old")).alias("__changed"),
            ).localCheckpoint(eager=False)  # materialized by the count below
            changed = merged.filter(F.col("__changed")).count()
            # step N is materialized — step N-1's blocks are dead.
            # Freeing them here (not at ContextCleaner's GC leisure)
            # bounds live checkpoint blocks to 2 rounds no matter the
            # iteration count; see checkpoint.py.
            if labels is not None:
                release_local_checkpoint(labels)
            labels = merged.drop("__changed")
            if changed == 0:
                log.info("connected_components converged after %d rounds", it)
                return labels
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds "
            "(component diameter exceeds the budget); raise max_iterations"
        )
    finally:
        bi.unpersist()


def incremental_components(
    labels: DataFrame | None,
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """Fold a BATCH of new edges into a persisted (node, cluster_id)
    label table without re-running connected components over history —
    the cluster-maintenance step for continuous ingest (the same
    incremental posture as ``operators/incremental_dedup``, which
    maintains the PAIR index this consumes).

    ``labels=None`` bootstraps (plain ``connected_components`` over the
    batch). Otherwise this is the full-table face of
    ``incremental_components_delta``: the delta fold runs over the flat
    table, then every persisted row relabels through its ``moves`` (one
    equi-join, broadcast under the ``BROADCAST_DELTA_MAX_ROWS`` gate)
    and the first-seen rows append. A batch that changes nothing (every
    edge inside one existing cluster, no first-seen node) returns
    ``labels`` itself.

    Labels equal a full recompute over the union of all edge batches
    (property-tested): every persisted cluster_id is its component's
    minimum node id, so the contracted CC's minimum is the global
    minimum transitively. That invariant is REQUIRED of the input —
    feed this function only its own output or
    ``connected_components``'s.

    100-TB posture: history participates in the fold's batch-probed
    joins and in the one relabel join, whose build side is the moves
    map, bounded by the batch's touched components. Compare
    ``connected_components`` on the full pair set, whose every label
    round shuffles the corpus-sized label table.
    """
    if labels is None:
        return connected_components(
            edges, src=src, dst=dst, max_iterations=max_iterations
        )
    cd = incremental_components_delta(labels, edges, src, dst, max_iterations)
    if cd.size == 0:
        return labels
    return _relabel(labels, cd.moves, "left").unionByName(cd.first_seen)


class ComponentsDelta:
    """What one edge batch did to the label state, without ever
    materializing the full label table (the streaming curation sink
    appends label DELTAS instead of overwriting the table per trigger).

    * ``node_labels`` — (node, cluster_id) for every node of the
      CONTRACTED graph (old component reps + nodes first seen in this
      batch), i.e. the batch's view of where its clusters now point.
    * ``moves`` — (__old_rep, __new_rep) rows where the label CHANGED:
      merged-away old reps plus first-seen nodes that did not become
      their component's minimum. Any persisted row keyed by an
      ``__old_rep`` (label rows, rep-keyed assignment rows) must be
      re-keyed through this map.
    * ``first_seen`` — (node, cluster_id) for every node first seen in
      this batch, a self-loop-only node labeled as its own cluster.
    * ``label_delta`` — the (node, cluster_id) rows to APPEND to a
      latest-epoch-wins label log: relabeled members of merged history
      clusters plus ``first_seen``. Sized O(members of touched
      components + batch), never O(corpus).
    * ``size`` — rows of ``node_labels``, 0 when the batch changed
      nothing. Counted only when the fold ran against history (the
      count gates the ``moves`` broadcast); None on a bootstrap.

    The invariant that makes the O(K) read path sound: every time a
    rep merges away, ALL its members' label rows are re-emitted in the
    same delta — so a stored row whose cluster_id is a CURRENT rep is
    by construction the node's latest row (stale rows always point at
    reps that have since merged away and been superseded).
    """

    def __init__(
        self,
        node_labels: DataFrame,
        moves: DataFrame,
        first_seen: DataFrame,
        label_delta: DataFrame,
        size: int | None,
    ) -> None:
        self.node_labels = node_labels
        self.moves = moves
        self.first_seen = first_seen
        self.label_delta = label_delta
        self.size = size


def _relabel(labels: DataFrame, moves: DataFrame, how: str) -> DataFrame:
    """(node, cluster_id) rows of ``labels`` re-keyed through ``moves``:
    ``left`` keeps unmoved rows as they are, ``inner`` only the moved."""
    return labels.join(
        moves, labels["cluster_id"] == moves["__old_rep"], how
    ).select("node", F.coalesce("__new_rep", "cluster_id").alias("cluster_id"))


def incremental_components_delta(
    labels: DataFrame | None,
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> ComponentsDelta:
    """The one incremental fold: contract a batch of edges onto the
    current cluster reps, run CC on that batch-sized graph, and report
    the result as a ``ComponentsDelta``. ``incremental_components`` is
    its full-table face; this is the face for callers that persist the
    label state as an append-only, latest-wins LOG (the streaming
    curation sink). ``labels`` is None (bootstrap), a flat
    (node, cluster_id) table, or the RAW log with an ``_epoch`` column
    and several rows per node; a log's per-node latest rows are
    resolved (``util.latest``) AFTER the batch-sized semi-join onto this
    batch's edge endpoints, so history is never shuffled corpus-wide.

    1. translate each new edge's endpoints to their CURRENT canonical
       label (unseen endpoints label themselves),
    2. run CC on that CONTRACTED graph — old cluster reps + nodes first
       seen this batch, so the iterative part is batch-sized. A
       self-loop survives contraction only on a first-seen node, which
       then labels itself, as a full recompute would,
    3. re-key history through ``moves``.

    100-TB posture: history is touched by (a) one semi-join probed by
    batch endpoints and (b) one join against the broadcast-sized
    ``moves`` map — both shuffle O(touched members), and the iterative
    CC runs on the contracted batch graph only.
    """
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    endpoints = e.select(F.col("__s").alias("node")).union(
        e.select(F.col("__d").alias("node"))
    ).distinct()
    if labels is None:  # bootstrap: every endpoint is first seen
        known = endpoints.select("node", F.col("node").alias("cluster_id")).limit(0)
    else:
        for c in ("node", "cluster_id"):
            if c not in labels.columns:
                raise ValueError(f"labels frame lacks column {c!r}")
        matched = labels
        if EPOCH_COL in labels.columns:
            # a log resolves its latest rows on the batch-sized
            # semi-join, never corpus-wide; a flat table needs no
            # resolution and the translation joins probe it directly
            matched = labels.join(endpoints, "node", "semi")
        known = latest(matched, ["node"], ["cluster_id"])
    la = known.select(
        F.col("node").alias("__ln"), F.col("cluster_id").alias("__lc")
    )
    contracted = (
        e.join(la, e["__s"] == la["__ln"], "left")
        .select(
            F.coalesce("__lc", "__s").alias("__cs"),
            "__d",
            F.col("__lc").isNull().alias("__new"),
        )
        .join(la, F.col("__d") == la["__ln"], "left")
        .select(
            F.col("__cs").alias(src),
            F.coalesce("__lc", "__d").alias(dst),
            "__new",
        )
        .filter((F.col(src) != F.col(dst)) | F.col("__new"))
        .select(src, dst)
        .distinct()
    )
    # No isEmpty() pre-check: an empty contracted graph flows through CC
    # (one cheap round, empty labels) and every delta frame comes out
    # empty — one fewer action on the common path. CC returns its last
    # round's materialized checkpoint, so the consumers below read the
    # blocks without re-running the rounds.
    cc = connected_components(
        contracted, src=src, dst=dst, max_iterations=max_iterations
    )
    moves = cc.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("__old_rep"),
        F.col("cluster_id").alias("__new_rep"),
    )
    size = None
    if labels is not None:
        # the CC output has no plan stats, so the planner can't see the
        # map is small — hint the broadcast ourselves, but SIZE-GATED
        # (counting the materialized blocks is cheap): a bootstrap-sized
        # batch can grow it past broadcast limits, and an unconditional
        # hint would OOM instead of degrading to a shuffle join
        size = cc.count()
        if size <= BROADCAST_DELTA_MAX_ROWS:
            moves = F.broadcast(moves)
    first = endpoints.join(known, "node", "left_anti")
    first_seen = _relabel(
        first.select("node", F.col("node").alias("cluster_id")), moves, "left"
    )
    label_delta = first_seen
    if labels is not None:
        # members of merged clusters: by the class-docstring invariant,
        # rows whose cluster_id is a (current) old rep ARE the latest
        # rows — no per-node resolution needed
        label_delta = _relabel(labels, moves, "inner").unionByName(first_seen)
    return ComponentsDelta(cc, moves, first_seen, label_delta, size)


def dedup_clusters(
    pairs: DataFrame,
    left: str = "doc_a",
    right: str = "doc_b",
) -> DataFrame:
    """Cluster verified near-dup pairs and summarize each cluster:
    (cluster_id = canonical doc, n_members, members_sum). ``members_sum``
    pins the exact membership for cross-engine checks."""
    cc = connected_components(pairs, src=left, dst=right)
    return cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("node").alias("members_sum"),
    )


def cluster_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
    left: str = "doc_a",
    right: str = "doc_b",
) -> DataFrame:
    """Pick one surviving document per near-dup cluster — the "keep the
    best copy" step that turns pair edges into an actual dedup decision.

    Every document appears exactly once in the output: paired docs carry
    their component's canonical ``cluster_id``, unpaired docs are their
    own singleton cluster (left join + coalesce — no doc silently
    drops). The representative is the cluster's max-``score_col`` row,
    ties broken by min id (a total order, so both engines agree).
    Returns ``cluster_id, rep_id, rep_score, n_members``.

    One CC run over the (tiny) pair set plus one window shuffle over the
    corpus keyed by cluster — the corpus never joins against itself."""
    from pyspark.sql.window import Window

    cc = connected_components(pairs, src=left, dst=right)
    j = df.select(
        F.col(id_col).alias("__id"), F.col(score_col).alias("__score")
    ).join(cc, F.col("__id") == cc["node"], "left")
    labeled = j.select(
        "__id",
        "__score",
        F.coalesce(cc["cluster_id"], F.col("__id")).alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("__score"), F.col("__id")
    )
    return (
        labeled.withColumn("__rk", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .filter(F.col("__rk") == 1)
        .select(
            "cluster_id",
            F.col("__id").alias("rep_id"),
            F.col("__score").alias("rep_score"),
            "n_members",
        )
    )
