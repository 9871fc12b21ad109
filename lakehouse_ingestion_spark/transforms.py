"""Config-driven transform ops (the reference's declared-only
``TransformFn`` hook, ``docs/00-architecture-overview.md:344-355``, made
real).

Each op is one builder registered with ``@transform(name)``: its
keyword-only parameters are the op's option keys (defaults in the
signature, no default = required key), its positional parameters the
context ``apply_transform`` supplies (``df``; ``conform`` also takes
``schema``). Mapping-valued options that config loading may flatten to
dotted keys are declared in the decorator. Operator imports stay lazy
inside the builders, so loading a config imports no operator module.

Adding an op is one decorated function here; load-time validation
(:func:`validate_transform_options`) and dispatch
(:func:`apply_transform`) both follow from its signature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.registry import Registry
from lakehouse_ingestion_spark.util import read_parquet_if_exists

TRANSFORMS = Registry("transform", "op", context=("df", "schema"))
transform = TRANSFORMS.register


def validate_transform_options(op: str, options: dict) -> None:
    """Load-time option-schema check for one transform stage: an unknown
    op, an unknown option key or a missing required key raises
    ConfigError naming the valid set, before any Spark work."""
    TRANSFORMS.bind(op, options)


def apply_transform(df: DataFrame, op: str, o: dict, schema=None) -> DataFrame:
    """Run one config transform stage over ``df``."""
    return TRANSFORMS.call(op, o, df=df, schema=schema)


def _desc(cols) -> list:
    return [F.col(c).desc() for c in cols]


# -- core medallion ops ----------------------------------------------------


@transform("conform")
def _conform(df, schema, *, drop_extra=False):
    # type normalization (SURVEY D13) against the job's registry schema
    from lakehouse_ingestion_spark.schema_validator import conform

    if schema is None:
        raise ConfigError("conform transform requires the job to declare a schema")
    return conform(df, schema, drop_extra=bool(drop_extra))


@transform("dedup", mappings=("priorities",))
def _dedup(
    df, *, keys=None, order_by=None, priorities=None, source_col="source",
    text_col="text", id_col="doc_id", hash_fn="xxhash64", default_priority=0,
    provenance=True,
):
    from lakehouse_ingestion_spark.operators.dedup import (
        dedup_by_priority,
        dedup_exact,
        dedup_latest_by_key,
    )

    if priorities is not None:
        # cross-source canonicalization: highest-priority source wins
        # per content fingerprint, provenance attached
        return dedup_by_priority(
            df,
            {str(k): int(v) for k, v in dict(priorities).items()},
            source_col=source_col,
            text_col=text_col,
            id_col=id_col,
            hash_fn=hash_fn,
            default_priority=int(default_priority),
            provenance=bool(provenance),
        )
    if order_by is not None:
        return dedup_latest_by_key(df, list(keys), _desc(order_by))
    return dedup_exact(df, keys)


@transform("cdc_apply")
def _cdc_apply(df, *, keys, order_by, op_column="op"):
    from lakehouse_ingestion_spark.operators.cdc import cdc_apply

    return cdc_apply(df, list(keys), _desc(order_by), op_column=op_column)


@transform("scd2")
def _scd2(df, *, keys, ts_column, attr_columns=None, tiebreakers=None):
    from lakehouse_ingestion_spark.operators.scd import scd2_from_history

    return scd2_from_history(
        df, list(keys), ts_column, attr_columns, tiebreakers=tiebreakers
    )


@transform("aggregate")
def _aggregate(df, *, group_by, aggs):
    from lakehouse_ingestion_spark.operators.gold import AggSpec, aggregate

    specs = [AggSpec(a["func"], a["column"], a.get("alias")) for a in aggs]
    return aggregate(df, list(group_by), specs)


@transform("enrich")
def _enrich(
    df, *, on, dim_path=None, dim_table=None, how="left", select=None,
    broadcast=True, prefix="",
):
    from lakehouse_ingestion_spark.operators.enrich import Enrichment, enrich

    if dim_path is not None:
        dim = df.sparkSession.read.parquet(dim_path)
    elif dim_table is not None:
        dim = df.sparkSession.table(dim_table)
    else:
        raise ConfigError("enrich transform requires 'dim_path' or 'dim_table'")
    on = [tuple(p) if isinstance(p, (list, tuple)) else p for p in on]
    return enrich(
        df,
        Enrichment(
            dim, on=on, how=how, select=select, broadcast=bool(broadcast),
            prefix=prefix,
        ),
    )


@transform("derive_column")
def _derive_column(df, *, name, expr):
    return df.withColumn(name, F.expr(expr))


@transform("filter")
def _filter(df, *, predicate):
    return df.filter(predicate)


@transform("select")
def _select(df, *, exprs):
    return df.selectExpr(*exprs)


@transform("sql")
def _sql(df, *, query, view="src"):
    df.createOrReplaceTempView(view)
    return df.sparkSession.sql(query)


# -- sampling / analytics --------------------------------------------------


@transform("hash_sample")
def _hash_sample(df, *, key, fraction, seed="sample"):
    from lakehouse_ingestion_spark.operators.sampling import hash_sample

    return hash_sample(df, key, float(fraction), seed=seed)


@transform("hash_split", mappings=("fractions",))
def _hash_split(df, *, key, fractions, seed="split", split_col="split"):
    from lakehouse_ingestion_spark.operators.sampling import hash_split

    return hash_split(df, key, dict(fractions), seed=seed, split_col=split_col)


@transform("stratified_sample", mappings=("fractions",))
def _stratified_sample(
    df, *, strata, fractions, key, seed="sample", default_fraction=0.0
):
    from lakehouse_ingestion_spark.operators.sampling import stratified_sample

    return stratified_sample(
        df, strata, dict(fractions), key, seed=seed,
        default_fraction=float(default_fraction),
    )


@transform("group_cap")
def _group_cap(df, *, group, key, cap, order_by=None):
    from lakehouse_ingestion_spark.operators.sampling import group_cap

    return group_cap(df, group, key, int(cap), order_by=order_by)


@transform("weighted_sample")
def _weighted_sample(df, *, key, weight, expected_n, seed="wsample"):
    from lakehouse_ingestion_spark.operators.sampling import weighted_sample

    return weighted_sample(df, key, weight, float(expected_n), seed=seed)


@transform("numeric_profile")
def _numeric_profile(df, *, columns=None):
    # replace the frame with its reference drift profile — write it
    # through the job's target, then point later jobs' drift checks at
    # it via profile_path (operators/profile.numeric_profile)
    from lakehouse_ingestion_spark.operators.profile import numeric_profile

    return numeric_profile(df, columns)


@transform("zscore_outliers")
def _zscore_outliers(df, *, group_by, value, z=3.0, min_group_count=2):
    from lakehouse_ingestion_spark.operators.anomaly import zscore_outliers

    return zscore_outliers(
        df, list(group_by), value, z=float(z),
        min_group_count=int(min_group_count),
    )


@transform("funnel")
def _funnel(df, *, user, ts, step, steps):
    from lakehouse_ingestion_spark.operators.funnel import funnel_counts

    return funnel_counts(df, user, ts, step, list(steps))


@transform("retention")
def _retention(df, *, user, ts, period_days=7):
    from lakehouse_ingestion_spark.operators.funnel import retention

    return retention(df, user, ts, period_days=int(period_days))


@transform("frequent_items")
def _frequent_items(df, *, item, min_share=0.001):
    from lakehouse_ingestion_spark.operators.frequent import frequent_items

    return frequent_items(df, item, min_share=float(min_share))


@transform("quantile_sketch")
def _quantile_sketch(
    df, *, group_by, value, compression=400, quantiles=(0.5, 0.95)
):
    from lakehouse_ingestion_spark.operators.sketches import (
        digest_quantile,
        quantile_sketches,
    )

    dig = quantile_sketches(
        df, list(group_by), value, compression=int(compression)
    )
    cols = [
        digest_quantile(float(q)).alias(f"p{str(float(q)).replace('0.', '')}")
        for q in quantiles
    ]
    return dig.select(*group_by, F.col("td_n").alias("n"), *cols)


@transform("robust_scale")
def _robust_scale(
    df, *, value, group_by=(), p_lo=0.05, p_hi=0.95, scaled_col="scaled",
    ndigits=6,
):
    # winsorized min-max feature normalization (operators/stats.py)
    from lakehouse_ingestion_spark.operators.stats import robust_scale

    return robust_scale(
        df,
        value,
        list(group_by) or None,
        p_lo=float(p_lo),
        p_hi=float(p_hi),
        scaled_col=scaled_col,
        ndigits=None if ndigits is None else int(ndigits),
    )


@transform("cms_build")
def _cms_build(df, *, item, group_by=(), depth=4, width=4096, weight=None):
    # replace the frame with its count-min counter state table — the
    # numeric_profile pattern: write it through the job's target, merge
    # later deltas with cms_merge (groupBy-sum)
    from lakehouse_ingestion_spark.operators.cms import cms_build

    return cms_build(
        df, item, group_cols=list(group_by), depth=int(depth),
        width=int(width), weight_col=weight,
    )


@transform("entity_resolve")
def _entity_resolve(
    df, *, id_col, name_col, max_edit_distance=1, max_block=100,
    cluster_col="cluster",
):
    # attach the ER cluster id (operators/er.py) to every row
    from lakehouse_ingestion_spark.operators.er import resolve_entities

    clusters = resolve_entities(
        df.select(id_col, name_col),
        id_col,
        name_col,
        max_edit_distance=int(max_edit_distance),
        max_block=int(max_block),
    ).select(id_col, F.col("cluster").alias("__cluster"))
    return (
        df.join(clusters, id_col, "left")
        .withColumn(cluster_col, F.coalesce(F.col("__cluster"), F.col(id_col)))
        .drop("__cluster")
    )


@transform("event_window_dedup")
def _event_window_dedup(
    df, *, keys, min_gap_seconds, ts_col="ts", tiebreak=None
):
    # time-window event dedup: drop same-key repeats within the gap
    from lakehouse_ingestion_spark.operators.dedup import event_window_dedup

    return event_window_dedup(
        df, list(keys), ts_col, int(min_gap_seconds),
        tiebreak=list(tiebreak or []) or None,
    )


# -- cluster-aware stages --------------------------------------------------


def _pairs_frame(df, id_col, a_col, b_col, pairs_path, near_dup, winnow):
    """Near-dup pair frame (a_col, b_col) for a cluster-aware stage: a
    precomputed table at ``pairs_path`` (the output of any dedup query),
    computed in-line from ``near_dup: {text_col, threshold, n, mode}``
    via the exact prefix-filter Jaccard join, or from ``winnow:
    {text_col, k, w, min_shared, max_postings}`` via MOSS winnowing
    fingerprints (operators/winnow.py) — the shared-SPAN pair source
    (copied passages, boilerplate) where Jaccard is the bag-of-shingles
    one."""
    if pairs_path is not None:
        pairs = df.sparkSession.read.parquet(pairs_path)
        for c in (a_col, b_col):
            if c not in pairs.columns:
                raise ConfigError(f"pairs frame lacks column {c!r}")
        return pairs.select(a_col, b_col)
    if near_dup is not None:
        from lakehouse_ingestion_spark.operators.jaccard import jaccard_join

        return jaccard_join(
            df,
            id_col,
            near_dup.get("text_col", "text"),
            n=int(near_dup.get("n", 3)),
            mode=near_dup.get("mode", "word"),
            threshold=float(near_dup["threshold"]),
        ).select(F.col("id_a").alias(a_col), F.col("id_b").alias(b_col))
    if winnow is not None:
        from lakehouse_ingestion_spark.operators.winnow import (
            winnow_fingerprints,
            winnow_overlap,
        )

        text_col = winnow.get("text_col", "text")
        fps = winnow_fingerprints(
            df.select(id_col, text_col),
            text_col=text_col,
            id_col=id_col,
            k=int(winnow.get("k", 8)),
            w=int(winnow.get("w", 16)),
        )
        return winnow_overlap(
            fps,
            id_col=id_col,
            min_shared=int(winnow.get("min_shared", 2)),
            max_postings=int(winnow.get("max_postings", 50)),
        ).select(F.col("a").alias(a_col), F.col("b").alias(b_col))
    raise ConfigError(
        "cluster-aware stage requires 'pairs_path', 'near_dup' or 'winnow'"
    )


def _maintained_reps(df, pairs, a_col, b_col, labels_path) -> DataFrame | None:
    """With ``labels_path``, fold this run's pairs into the persisted
    connected-components label table (``operators/graph
    .incremental_components`` — batch-sized CC, no history rescan),
    write the state back, and return the (node, rep) frame. None when
    the stage is not label-maintaining (each run pays a full CC over
    its pair set)."""
    if labels_path is None:
        return None
    from lakehouse_ingestion_spark.operators.graph import incremental_components
    from lakehouse_ingestion_spark.streaming.curation import current_labels

    prev = read_parquet_if_exists(df.sparkSession, labels_path)
    if prev is not None:
        # a streaming curation sink maintains the same state as an
        # epoch-partitioned delta log — resolve to current rows first
        # (the flat overwrite below converts the layout back; the stream
        # re-adopts it via its one-time migration)
        prev = current_labels(prev)
    labels = incremental_components(prev, pairs, a_col, b_col)
    # pin before the state overwrite: the updated-label plan READS
    # labels_path when prev is set
    labels = labels.localCheckpoint(eager=True)
    labels.write.mode("overwrite").parquet(labels_path)
    return labels.select("node", F.col("cluster_id").alias("rep"))


def _reps(df, id_col, a_col, b_col, pairs_path, near_dup, winnow, labels_path):
    """(node, rep) for every clustered id: maintained labels when
    ``labels_path`` is set, else a full CC over this run's pairs."""
    from lakehouse_ingestion_spark.operators.split_guard import cluster_reps

    pairs = _pairs_frame(df, id_col, a_col, b_col, pairs_path, near_dup, winnow)
    reps = _maintained_reps(df, pairs, a_col, b_col, labels_path)
    return cluster_reps(pairs, a_col, b_col) if reps is None else reps


@transform("cluster_reps", mappings=("near_dup", "winnow"))
def _cluster_reps(
    df, *, id_col="doc_id", rep_col="rep", a_col="doc_a", b_col="doc_b",
    pairs_path=None, near_dup=None, winnow=None, labels_path=None,
):
    # attach each row's near-dup cluster representative (own id for
    # singletons) — the curation building block under
    # leakage_safe_split, exposed on its own for rep-keyed ops
    reps = _reps(
        df, id_col, a_col, b_col, pairs_path, near_dup, winnow, labels_path
    ).withColumnRenamed("rep", "__rep")
    return (
        df.join(reps, df[id_col] == reps["node"], "left")
        .drop("node")
        .withColumn(rep_col, F.coalesce(F.col("__rep"), F.col(id_col)))
        .drop("__rep")
    )


@transform("near_dup_drop", mappings=("near_dup", "winnow"))
def _near_dup_drop(
    df, *, id_col="doc_id", a_col="doc_a", b_col="doc_b", pairs_path=None,
    near_dup=None, winnow=None, labels_path=None,
):
    # fuzzy dedup from config: keep exactly ONE document per near-dup
    # cluster (the representative = min id; singletons keep themselves).
    # With labels_path the rep can MOVE to a later-arriving smaller id
    # across epochs, so multi-epoch keep-FIRST semantics belong to
    # streaming/near_dup (index-maintaining), not this stage.
    reps = _reps(
        df, id_col, a_col, b_col, pairs_path, near_dup, winnow, labels_path
    )
    dropped = reps.filter(F.col("node") != F.col("rep")).select("node")
    return df.join(dropped, df[id_col] == dropped["node"], "left_anti")


@transform("leakage_safe_split", mappings=("fractions", "near_dup", "winnow"))
def _leakage_safe_split(
    df, *, fractions, id_col="doc_id", rep_col="rep", a_col="doc_a",
    b_col="doc_b", pairs_path=None, near_dup=None, winnow=None,
    labels_path=None, split_col="split", seed="split", assignments_path=None,
    audit_path=None, conflict_action="report",
):
    # near-dup clusters never straddle splits; with `assignments_path`
    # the assignment is STICKY across runs (first assignment wins,
    # merges audited — split_guard module docstring) and the state/audit
    # tables are maintained here
    from lakehouse_ingestion_spark.operators.split_guard import (
        apply_conflict_policy,
        leakage_safe_split,
        sticky_split,
    )

    kwargs = dict(
        id_col=id_col, a_col=a_col, b_col=b_col, seed=seed,
        split_col=split_col, rep_col=rep_col,
    )
    pairs = _pairs_frame(df, id_col, a_col, b_col, pairs_path, near_dup, winnow)
    fractions = dict(fractions)
    # optional incremental label maintenance (labels_path): reps come
    # from the persisted CC state folded with this run's pairs, so the
    # per-epoch cost is batch-sized
    reps = _maintained_reps(df, pairs, a_col, b_col, labels_path)
    if assignments_path is None:
        if audit_path is not None:
            raise ConfigError("audit_path requires assignments_path (sticky mode)")
        return leakage_safe_split(df, pairs, fractions, reps=reps, **kwargs)
    from lakehouse_ingestion_spark.streaming.curation import current_assignments

    prev = read_parquet_if_exists(df.sparkSession, assignments_path)
    if prev is not None:
        # streaming-maintained state is an epoch delta log with re-keyed
        # rows — resolve to one current row per doc
        prev = current_assignments(prev, id_col, split_col)
    out, audit = sticky_split(
        df, pairs, fractions, assignments=prev, reps=reps, **kwargs
    )
    if conflict_action != "report":
        # quarantine_eval persists its forced splits (below), so
        # conflicted clusters converge out of eval; drop_cluster
        # withholds members from the OUTPUT but the pre-drop frame still
        # drives the state write, keeping them deterministic
        audit = audit.localCheckpoint(eager=True)
    if conflict_action == "quarantine_eval":
        out = apply_conflict_policy(
            out, audit, conflict_action, fractions,
            split_col=split_col, rep_col=rep_col,
        )
    # pin before the state overwrite below: `out`'s plan READS
    # assignments_path when prev is set — overwriting what a lazy plan
    # still reads would corrupt the result (see PLANS.md lazy
    # read-after-write note)
    out = out.localCheckpoint(eager=True)
    if audit_path is not None:
        # the audit is a LOG of leakage events — append, never clobber
        # prior runs' rows
        audit.write.mode("append").parquet(audit_path)
    # stickiness must survive partial-corpus runs: assigned docs absent
    # from df keep their rows (a plain overwrite would discard them, so
    # reappearing docs were re-split by majority/hash with no audit)
    new_state = out.select(id_col, split_col)
    if prev is not None:
        kept = prev.select(id_col, split_col).join(
            out.select(id_col), id_col, "left_anti"
        ).localCheckpoint(eager=True)  # reads assignments_path: pin pre-overwrite
        new_state = new_state.unionByName(kept)
    new_state.write.mode("overwrite").parquet(assignments_path)
    if conflict_action == "drop_cluster":
        out = apply_conflict_policy(
            out, audit, conflict_action, fractions,
            split_col=split_col, rep_col=rep_col,
        )
    return out


# -- text curation ---------------------------------------------------------


@transform("quality_filter")
def _quality_filter(
    df, *, text_col="text", keep_only=False, min_tokens=30, max_tokens=100_000,
    min_mean_token_len=2.0, max_mean_token_len=12.0, min_distinct_ratio=0.3,
    min_alpha_ratio=0.6, stopwords=None,
):
    # C4/Gopher curation chain (operators/quality.py); keep_only=True
    # drops failing docs, else rows carry failed_rules/keep columns
    from lakehouse_ingestion_spark.operators.quality import (
        apply_quality_rules,
        default_quality_rules,
    )

    rules = default_quality_rules(
        min_tokens=min_tokens,
        max_tokens=max_tokens,
        min_mean_token_len=min_mean_token_len,
        max_mean_token_len=max_mean_token_len,
        min_distinct_ratio=min_distinct_ratio,
        min_alpha_ratio=min_alpha_ratio,
        stopwords=stopwords,
    )
    out = apply_quality_rules(df, rules, text_col=text_col)
    if keep_only:
        return out.filter(F.col("keep")).drop("failed_rules", "keep")
    return out


@transform("repetition_signals")
def _repetition_signals(df, *, text_col="text"):
    from lakehouse_ingestion_spark.operators.repetition import repetition_signals

    return repetition_signals(df, text_col)


@transform("chunk")
def _chunk(
    df, *, chunk_size=512, stride=None, id_col="doc_id", text_col="text",
    keep=None,
):
    from lakehouse_ingestion_spark.operators.chunking import chunk_documents

    return chunk_documents(
        df,
        chunk_size=int(chunk_size),
        stride=int(chunk_size if stride is None else stride),
        id_col=id_col,
        text_col=text_col,
        keep_cols=keep,
    )


@transform("redact_pii")
def _redact_pii(df, *, text_col="text", rules=None):
    from lakehouse_ingestion_spark.functions.text import redact_pii

    return df.withColumn(text_col, redact_pii(F.col(text_col), rules=rules))


@transform("scrub_text")
def _scrub_text(df, *, text_col="text", out_col=None, count_cols=True):
    # richer typed PII scrub (email/card/ssn/phone/ip) with optional
    # per-pattern audit counts; `redact_pii` is the light form
    from lakehouse_ingestion_spark.operators.pii import scrub_text

    return scrub_text(
        df, text_col=text_col, out_col=out_col, count_cols=bool(count_cols)
    )


@transform("line_dedup")
def _line_dedup(
    df, *, text_col="text", id_col="doc_id", max_occurrences=1,
    drop_blank=True,
):
    from lakehouse_ingestion_spark.operators.linededup import dedup_lines

    return dedup_lines(
        df, text_col=text_col, id_col=id_col,
        max_occurrences=int(max_occurrences), drop_blank=bool(drop_blank),
    )


@transform("lm_perplexity")
def _lm_perplexity(df, *, text_col="text", id_col="doc_id", k=1.0):
    # self-scoring: train the bigram LM on this frame and attach
    # bits_per_token (CCNet-style LM filtering signal)
    from lakehouse_ingestion_spark.operators.lm_score import self_score_perplexity

    return self_score_perplexity(df, text_col=text_col, id_col=id_col, k=float(k))


@transform("semantic_dedup")
def _semantic_dedup(
    df, *, id_col="doc_id", vec_col="embedding", threshold=0.95, n_bits=8,
    keep_only=False,
):
    from lakehouse_ingestion_spark.operators.semdedup import semantic_dedup

    out = semantic_dedup(
        df, id_col=id_col, vec_col=vec_col, threshold=float(threshold),
        n_bits=int(n_bits),
    )
    if keep_only:
        return out.filter(F.col("keep")).drop("keep")
    return out


@transform("dup_stats")
def _dup_stats(df, *, text_col="text", id_col="doc_id", k=8, min_occurrences=2):
    from lakehouse_ingestion_spark.operators.substr_dedup import dup_stats

    return dup_stats(
        df, text_col=text_col, id_col=id_col, k=int(k),
        min_occurrences=int(min_occurrences),
    )


@transform("compress_filter")
def _compress_filter(
    df, *, min_ratio=0.15, text_col="text", min_chars=64, keep_only=False
):
    from lakehouse_ingestion_spark.operators.compressibility import (
        compressibility_filter,
    )

    out = compressibility_filter(
        df, min_ratio=float(min_ratio), text_col=text_col,
        min_chars=int(min_chars),
    )
    if keep_only:
        return out.filter(F.col("keep_compress")).drop("keep_compress")
    return out


@transform("ngram_novelty")
def _ngram_novelty(df, *, text_col="text", id_col="doc_id", k=8):
    from lakehouse_ingestion_spark.operators.substr_dedup import ngram_novelty

    return ngram_novelty(df, text_col=text_col, id_col=id_col, k=int(k))


@transform("html_extract")
def _html_extract(
    df, *, output_col="text", html_col="html", line_filter=False,
    min_line_chars=30, require_punct=True,
):
    # raw-crawl markup -> text, pure codegen (functions/extraction.py);
    # the optional C4-style line filter drops nav/footer boilerplate
    from lakehouse_ingestion_spark.functions.extraction import (
        boilerplate_line_filter,
        html_to_text,
    )

    extracted = html_to_text(html_col)
    if not line_filter:
        return df.withColumn(output_col, extracted)
    tmp = "__extracted"
    return df.withColumn(tmp, extracted).withColumn(
        output_col,
        boilerplate_line_filter(
            tmp, min_chars=int(min_line_chars),
            require_punct=bool(require_punct),
        ),
    ).drop(tmp)


@transform("bpe_tokenize")
def _bpe_tokenize(
    df, *, num_merges, text_col="text", lowercase=True, min_freq=1,
    max_words=1_000_000, id_col="doc_id",
):
    # train-then-encode in one declarative stage: merges come from the
    # corpus word histogram (one agg), encoding is map-only
    from lakehouse_ingestion_spark.operators.bpe import bpe_encode, bpe_train

    merges = bpe_train(
        df, num_merges=int(num_merges), text_col=text_col,
        lowercase=bool(lowercase), min_freq=int(min_freq),
        max_words=int(max_words),
    )
    return bpe_encode(
        df, merges, text_col=text_col, id_col=id_col, lowercase=bool(lowercase)
    )


# -- selection / retrieval / decontamination -------------------------------


@transform("token_budget_select")
def _token_budget_select(
    df, *, score_col, cost_col, budget, key_col="doc_id", cum_col="cum_cost"
):
    # budget-bounded corpus selection (operators/selection.py) — the
    # distributed prefix sum; keeps the prefix of (score DESC, key) whose
    # running cost stays within `budget`
    from lakehouse_ingestion_spark.operators.selection import token_budget_select

    return token_budget_select(
        df, score_col, cost_col, budget, key_col, cum_col=cum_col
    )


@transform("top_p_select")
def _top_p_select(
    df, *, strata_col, score_col, p, key_col="doc_id", cum_col="cum_score"
):
    # nucleus selection: keep each stratum's best rows covering fraction
    # p of its score mass (share-based budget sibling)
    from lakehouse_ingestion_spark.operators.selection import top_p_select

    return top_p_select(
        df, strata_col=strata_col, score_col=score_col, p=float(p),
        key_col=key_col, cum_col=cum_col,
    )


@transform("stratified_budget_select", mappings=("budgets",))
def _stratified_budget_select(
    df, *, strata_col, score_col, cost_col, budgets, key_col="doc_id",
    default_budget=0, cum_col="cum_cost",
):
    # per-stratum budgets ("fill each domain's token quota") — `budgets`
    # is a config mapping stratum -> budget, or one int
    from lakehouse_ingestion_spark.operators.selection import token_budget_select

    return token_budget_select(
        df, score_col, cost_col, budgets, key_col, strata_col=strata_col,
        default_budget=default_budget, cum_col=cum_col,
    )


@transform("semantic_decontaminate")
def _semantic_decontaminate(
    df, *, eval_path, id_col="vec_id", vec_col="embedding", threshold=0.9,
    max_eval=200_000, drop_contaminated=False,
):
    # embedding-side train/eval screen: eval set read from parquet (small
    # by contract — the operator gates with max_eval)
    from lakehouse_ingestion_spark.operators.semantic_decon import (
        semantic_decontaminate,
    )

    out = semantic_decontaminate(
        df, df.sparkSession.read.parquet(eval_path), id_col=id_col,
        vec_col=vec_col, threshold=float(threshold), max_eval=int(max_eval),
    )
    if drop_contaminated:
        return out.filter(~F.col("contaminated"))
    return out


@transform("bm25_search", mappings=("queries",))
def _bm25_search(
    df, *, queries, k=10, id_col="doc_id", text_col="text", k1=1.2, b=0.75,
    max_query_terms=100_000,
):
    # multi-query BM25 top-k retrieval; `queries` is a config-sized
    # mapping query_id -> query text (one corpus pass for the set)
    from lakehouse_ingestion_spark.operators.retrieval import bm25_search

    q_df = df.sparkSession.createDataFrame(
        [(int(qid), str(q)) for qid, q in dict(queries).items()],
        "query_id long, query string",
    )
    return bm25_search(
        df, q_df, k=int(k), id_col=id_col, text_col=text_col, k1=float(k1),
        b=float(b), max_query_terms=int(max_query_terms),
    )


@transform("contamination_report")
def _contamination_report(
    df, *, eval_path, text_col="text", id_col="doc_id", eval_id_col="eval_id",
    n=3, threshold=2,
):
    # per-eval-example contamination audit; eval set read from parquet
    # (small by contract — the n-gram frame broadcasts)
    from lakehouse_ingestion_spark.operators.decontaminate import (
        contamination_report,
    )

    return contamination_report(
        df, df.sparkSession.read.parquet(eval_path), text_col=text_col,
        id_col=id_col, eval_id_col=eval_id_col, n=int(n),
        threshold=int(threshold),
    )
