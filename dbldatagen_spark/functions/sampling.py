"""Deterministic sampling operators for corpus curation.

Training pipelines need *reproducible* samples (the same subset on every
run, on any cluster) — ``df.sample()`` is seeded per-partition and changes
with the input's partitioning, which is exactly the repeatability bug the
generation engine avoids with cell-seed hashing. These operators sample by
value, never by partition state:

* :func:`deterministic_sample` — scan-local modulo predicate; zero
  shuffles, pushes into the parquet scan, cost ~free at any corpus size.
* :func:`stratified_sample` — exact ``n`` rows per stratum via a ranked
  window; one shuffle on the stratum key. At extreme stratum skew, note
  the per-stratum sort is (stratum, id)-keyed and spills — for top-n per
  very hot stratum Spark substitutes a partial ``WindowGroupLimit``
  (rank pushdown) before the shuffle, keeping the sort bounded.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dbldatagen_spark.functions._hashing import (
    check_hash_mode,
    hash_bucket,
    md5_uniform,
)


def deterministic_sample(
    df: DataFrame,
    id_col: str,
    keep: int,
    out_of: int,
) -> DataFrame:
    """Keep rows whose ``id % out_of < keep`` — a reproducible,
    partitioning-independent ``keep/out_of`` sample.

    For sequential ids this is a perfectly uniform systematic sample; for
    arbitrary ids, pre-hash upstream (e.g. ``xxhash64(id)``) if id bias is
    a concern. The predicate is scan-local and Catalyst pushes it down.
    """
    if not 0 <= keep <= out_of:
        raise ValueError(f"keep ({keep}) must be in [0, out_of ({out_of})]")
    return df.where(F.pmod(F.col(id_col), F.lit(out_of)) < F.lit(keep))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    n_per_stratum: int,
) -> DataFrame:
    """Exactly ``min(n, stratum size)`` rows per stratum — the lowest
    ``n_per_stratum`` ids of each stratum, so the sample is deterministic
    and stable under repartitioning, appends of higher ids, and re-runs.
    """
    w = Window.partitionBy(strata_col).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= F.lit(n_per_stratum))
        .drop("_rn")
    )


def split_assign(
    df: DataFrame,
    id_col: str,
    fractions: dict,
    *,
    seed: int = 42,
    hash_mode: str = "xxhash64",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split assignment by content-free id
    hashing: every row gets exactly one label from ``fractions`` (e.g.
    ``{"train": 0.8, "val": 0.1, "test": 0.1}``), stable under
    repartitioning, re-runs, appends, and cluster size — the property
    ``df.randomSplit`` (per-partition seeded) does not have.

    A scan-local expression: ``bucket = hash(seed, id) % 1e6`` compared
    against cumulative fraction thresholds. ``hash_mode="md5"`` derives
    the bucket from the md5 hex of the id string instead of xxhash64 —
    slower, but recomputable by any engine with an md5 function, so
    splits stay identical across systems (the portability trick the
    SimHash oracle mode uses).
    """
    if not fractions:
        raise ValueError("fractions must be non-empty")
    total = float(sum(fractions.values()))
    if total <= 0:
        raise ValueError("fractions must sum to a positive value")
    bucket = hash_bucket(seed, id_col, 1_000_000, hash_mode)
    names = list(fractions)
    cum = 0.0
    expr = F.lit(names[-1])
    thresholds = []
    for name in names[:-1]:
        cum += fractions[name] / total
        thresholds.append((int(round(cum * 1_000_000)), name))
    for threshold, name in reversed(thresholds):
        expr = F.when(bucket < F.lit(threshold), F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def mix_corpus(
    df: DataFrame,
    id_col: str,
    source_col: str,
    weights: dict,
    *,
    seed: int = 42,
    hash_mode: str = "xxhash64",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Deterministic weighted corpus mixing — the dataset-composition step
    of a training pipeline ("2 epochs of wikipedia, 0.3 of common crawl").

    ``weights`` maps each source value to a sampling rate: a rate in
    ``[0, 1]`` downsamples (each row kept iff its seeded hash bucket falls
    below the rate), a rate above 1 upsamples — every row appears
    ``floor(rate)`` times and one more with probability ``frac(rate)``,
    so the expected multiplicity is exactly the rate. Sources missing
    from ``weights`` are dropped (explicit composition only). Each
    emitted copy carries ``epoch_col`` (0-based repeat index) so
    downstream shuffling/packing can decorrelate epochs by hashing
    ``(id, epoch)``.

    Every decision is a content-free function of ``(seed, id)``:
    reproducible under repartitioning, re-runs, appends, and — with
    ``hash_mode="md5"`` — across engines (same portability trick as
    :func:`split_assign`).

    Plan shape: a scan-local filter for the pure-downsampling case and a
    map-side ``explode`` of a ``sequence`` for upsampled sources; no
    shuffle, no UDF, no collect. At 100 TB the downsample predicate sits
    in the scan stage and upsampling's row amplification is exactly the
    requested epoch multiple — nothing is buffered.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    for s, r in weights.items():
        if r < 0:
            raise ValueError(f"weight for {s!r} must be >= 0, got {r}")
    bucket = hash_bucket(seed, id_col, 1_000_000, hash_mode)

    # copies(source) = floor(rate) + (bucket < frac(rate)*1e6)
    n_copies = F.lit(0)
    for s, rate in weights.items():
        whole = int(rate)
        frac_thresh = int(round((rate - whole) * 1_000_000))
        n_copies = F.when(
            F.col(source_col) == F.lit(s),
            F.lit(whole)
            + F.when(bucket < F.lit(frac_thresh), F.lit(1)).otherwise(F.lit(0)),
        ).otherwise(n_copies)

    out = df.withColumn("_n_copies", n_copies).where(F.col("_n_copies") > 0)
    return (
        out.withColumn(
            epoch_col,
            F.explode(F.sequence(F.lit(0), F.col("_n_copies") - 1)),
        )
        .drop("_n_copies")
    )


def quota_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    max_per_group: int,
    *,
    hash_mode: str = "md5",
) -> DataFrame:
    """Cap every group at ``max_per_group`` rows, keeping a deterministic
    pseudo-random subset — the per-domain quota step of web-corpus
    curation (no single domain may dominate the training mix).

    Row priority inside a group is the hash of the id (``md5`` hex by
    default — lexicographic order on the hex digest is engine-portable,
    so an external system can reproduce the exact subset; ``xxhash64``
    for the cheaper JVM-only variant), ties broken by id. Rows ranked
    past the cap are dropped.

    Scale shape: one shuffle on the group key; Spark rewrites the
    rank-filter into a ``WindowGroupLimit`` (partial top-k per input
    partition BEFORE the exchange), so a billion-row hot domain ships at
    most ``max_per_group`` rows per map task rather than sorting the
    whole domain in one reducer.
    """
    if max_per_group < 1:
        raise ValueError(f"max_per_group must be >= 1, got {max_per_group}")
    check_hash_mode(hash_mode)
    sid = F.col(id_col).cast("string")
    priority = F.md5(sid) if hash_mode == "md5" else F.xxhash64(sid)
    w = Window.partitionBy(group_col).orderBy(priority, F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= F.lit(max_per_group))
        .drop("_rn")
    )


def budget_select(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str,
    budget_per_group: float,
    *,
    priority_col: str | None = None,
    ascending: bool = False,
) -> DataFrame:
    """Greedy per-group selection under a weight budget — "take the best
    documents from each source until its token budget is spent", the
    standard corpus-composition step when mixing sources at fixed token
    counts.

    Rows are ranked inside each group by ``priority_col`` (descending by
    default — highest quality first; ``ascending=True`` flips it), ties
    broken by id, and kept while the running INCLUSIVE sum of
    ``weight_col`` stays within ``budget_per_group`` — a strict greedy
    prefix (not knapsack): the first row past the budget ends the
    group's selection, so the kept set is exactly the longest affordable
    priority-prefix and is reproducible by any engine with a windowed
    sum.

    Returns the input rows plus ``cum_weight`` (the inclusive running
    sum that justified keeping each row).

    Scale shape: one shuffle on the group key; the ranking sort and the
    running sum share the same window partitioning (single exchange).
    The per-group sort is the cost — groups are sources/domains, whose
    row counts are bounded by the quota step upstream; run
    :func:`quota_sample` first on unbounded domains.
    """
    if budget_per_group <= 0:
        raise ValueError(
            f"budget_per_group must be positive, got {budget_per_group}"
        )
    prio = F.col(priority_col if priority_col else weight_col)
    order = [prio.asc() if ascending else prio.desc(), F.col(id_col)]
    w = (
        Window.partitionBy(group_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn(
            "cum_weight", F.sum(F.col(weight_col).cast("double")).over(w)
        )
        .where(F.col("cum_weight") <= F.lit(float(budget_per_group)))
    )


def weighted_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str,
    n_per_group: int,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement: ``n_per_group`` rows per
    group, each row's inclusion probability proportional to its weight —
    Efraimidis–Spirakis A-ES keys, the one-pass distributed analogue of
    sequential weighted draws.

    Each row gets the key ``ln(u) / w`` where ``u`` is a deterministic
    60-bit uniform derived from ``md5(id)`` (engine-portable: any system
    with md5 reproduces the exact sample, and the draw is independent of
    partitioning); the ``n`` largest keys per group win — equivalent to
    ranking by ``u^(1/w)`` as in the original algorithm, without the
    overflow-prone pow. Rows with non-positive weight are excluded (they
    have zero sampling mass).

    Scale shape: identical to :func:`quota_sample` — one shuffle on the
    group key with a pre-exchange ``WindowGroupLimit`` top-n, so hot
    groups ship n candidates per map task.
    """
    if n_per_group < 1:
        raise ValueError(f"n_per_group must be >= 1, got {n_per_group}")
    u = md5_uniform(F.col(id_col).cast("string"))
    key = F.log(u) / F.col(weight_col).cast("double")
    w = Window.partitionBy(group_col).orderBy(
        key.desc(), F.col(id_col)
    )
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= F.lit(n_per_group))
        .drop("_rn")
    )


def priority_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    *,
    group_cols=None,
    seed: int = 0,
) -> DataFrame:
    """Priority sampling (Duffield, Lund & Thorup 2007, "Priority
    sampling for estimation of arbitrary subset sums"): keep the ``k``
    rows with the largest priorities ``q_i = w_i / u_i`` and attach the
    estimator weight ``w_hat_i = max(w_i, tau)`` where ``tau`` is the
    (k+1)-th largest priority.  For ANY subset ``S``,
    ``sum(w_hat_i, i in sample ∩ S)`` is an unbiased estimate of
    ``sum(w_i, i in S)`` — one tiny sample answers every subset-sum
    question after the fact, which is the whole trick for sizing
    ad-hoc slices of a 100 TB corpus without rescanning it.

    ``u_i`` is the repo's deterministic md5 uniform in (0, 1] (seeded,
    partitioning-independent, engine-portable), so the sample and the
    estimates replay exactly in any engine with ``md5``.  Groups with
    at most ``k`` rows are kept whole with ``w_hat = w`` (tau = 0, the
    exact regime).  Rows with non-positive weight are excluded.

    Returns ``group_cols + (id, weight, priority, tau, w_hat)``.

    Scale shape: ``row_number() <= k+1`` over ``(group ORDER BY
    priority DESC)`` plans as a pre-exchange ``WindowGroupLimit`` —
    each map task forwards at most ``k+1`` rows per group; the tau
    extraction and estimator join then touch ``O(groups * k)`` rows
    total.  Without groups the top-(k+1) is a single
    ``TakeOrderedAndProject``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    groups = list(group_cols or [])
    u = md5_uniform(
        F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))
    )
    base = df.where(F.col(weight_col) > 0).select(
        *groups,
        F.col(id_col),
        F.col(weight_col).cast("double").alias("_w"),
        (F.col(weight_col).cast("double") / u).alias("_q"),
    )
    if groups:
        w = Window.partitionBy(*groups).orderBy(
            F.col("_q").desc(), F.col(id_col)
        )
        top = base.withColumn("_rn", F.row_number().over(w)).where(
            F.col("_rn") <= F.lit(k + 1)
        )
    else:
        top = (
            base.orderBy(F.col("_q").desc(), F.col(id_col))
            .limit(k + 1)
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy(F.lit(1)).orderBy(
                        F.col("_q").desc(), F.col(id_col)
                    )
                ),
            )
        )
    # tau = the (k+1)-th priority when the group overflows, else 0
    tau = top.groupBy(*groups).agg(
        F.coalesce(
            F.max(F.when(F.col("_rn") == k + 1, F.col("_q"))), F.lit(0.0)
        ).alias("tau")
    )
    sample = top.where(F.col("_rn") <= k).drop("_rn")
    joined = (
        sample.join(F.broadcast(tau), groups)
        if groups
        else sample.crossJoin(F.broadcast(tau))
    )
    return joined.select(
        *groups,
        F.col(id_col),
        F.col("_w").alias("weight"),
        F.col("_q").alias("priority"),
        F.col("tau"),
        F.greatest(F.col("_w"), F.col("tau")).alias("w_hat"),
    )


_ALLOC_COLS = ("_wr", "_tot", "_raw", "_base", "_frac", "_rem", "_rk")


def _check_temperature_args(op, group_col, alpha, target_tokens, reserved):
    """The temperature operators' construction-time argument checks.
    ``group_col == "group"`` passes: the fertility report names its own
    key column that."""
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    if target_tokens < 0:
        raise ValueError(
            f"target_tokens must be >= 0, got {target_tokens}"
        )
    if group_col in reserved and group_col != "group":
        raise ValueError(
            f"{op}: group_col {group_col!r} collides with an "
            f"output/internal column ({sorted(reserved)}) — alias the "
            f"group column first"
        )


def _alpha_pow(mass: "F.Column", alpha: float) -> "F.Column":
    """``mass ** alpha``: ``sqrt`` at 0.5 (correctly rounded in every
    engine), the mass itself at 1, ``1.0`` at 0, else ``pow``."""
    if alpha == 0.5:
        return F.sqrt(mass)
    if alpha == 1.0:
        return mass
    if alpha == 0.0:
        return F.lit(1.0)
    return F.pow(mass, F.lit(float(alpha)))


def _with_total(per: DataFrame, group_col: str, w_raw, cache: bool) -> DataFrame:
    """The per-group frame plus its raw mass ``_wr`` and the normalizing
    total ``_tot``, folded over the masses SORTED BY GROUP KEY so the IEEE
    addition order is fixed.

    The fold and the caller's main branch both read ``per``: without a
    materialization barrier each re-executes the corpus aggregate, so
    ``cache=True`` checkpoints it eagerly (one row per group).  Those
    blocks are not in the session cache; the ContextCleaner frees them
    once every frame that reads them is garbage-collected (see
    ``docs/USAGE.md`` §9).  ``cache=False`` keeps the plan lazy and
    lineage-recoverable, at the price of a second corpus scan."""
    per = per.withColumn("_wr", w_raw)
    if cache:
        per = per.localCheckpoint(eager=True)
    tot = per.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(group_col).alias("g"), F.col("_wr").alias("w"))
                )
            ),
            F.lit(0.0),
            lambda acc, s: acc + s["w"],
        ).alias("_tot")
    )
    return per.crossJoin(F.broadcast(tot))


def _largest_remainder(
    per: DataFrame, group_col: str, target_tokens: int
) -> DataFrame:
    """``weight = _wr / _tot`` and the exact ``target_tokens`` split of
    the Hamilton rule: floor every share, hand the leftover units to the
    largest fractional parts, ties to the ascending group key."""
    alloc = (
        # an all-zero mass would make this 0/0 = NaN and (under ANSI)
        # blow up the floor/cast below — degrade to weight 0 instead
        # (allocation then under-fills)
        per.withColumn(
            "weight",
            F.when(
                F.col("_tot") > 0, F.col("_wr") / F.col("_tot")
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("_raw", F.lit(float(target_tokens)) * F.col("weight"))
        .withColumn("_base", F.floor(F.col("_raw")).cast("long"))
        .withColumn("_frac", F.col("_raw") - F.col("_base"))
    )
    # exact long sum of floors (order-independent); both windows run
    # over one row per GROUP, not per document
    w_all = Window.partitionBy()
    w_rank = Window.partitionBy().orderBy(
        F.col("_frac").desc(), F.col(group_col).asc()
    )
    return (
        alloc.withColumn(
            "_rem", F.lit(int(target_tokens)) - F.sum("_base").over(w_all)
        )
        .withColumn("_rk", F.row_number().over(w_rank))
        .withColumn(
            "target_tokens",
            (
                F.col("_base")
                + F.when(F.col("_rk") <= F.col("_rem"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).cast("long"),
        )
    )


def temperature_weights(
    df: DataFrame,
    group_col: str,
    *,
    alpha: float = 0.5,
    total_budget=None,
    cache: bool = True,
) -> DataFrame:
    """Temperature-scaled mixture weights — the multilingual-corpus
    rebalancing rule popularized by multilingual pretraining work
    (exponentiated-count sampling in Lample & Conneau 2019 "Cross-
    lingual Language Model Pretraining" and the XLM-R corpus recipe):
    sample group ``g`` proportionally to ``count_g ** alpha``.
    ``alpha = 1`` keeps natural proportions,
    ``alpha = 0`` is uniform, and the standard ``alpha = 0.5``
    up-samples small languages/sources without letting the biggest
    dominate.

    Returns one row per group: ``(group, n_docs, weight)`` plus
    ``target_docs = floor(total_budget * weight)`` when a budget is
    given (floor — unambiguous across engines; distribute the
    remainder with :func:`mix_corpus`-style largest-remainder if the
    sum must be exact).

    Determinism: the normalizing sum folds over the groups SORTED BY
    GROUP KEY (one ``array_sort`` + ``aggregate`` over the tiny
    per-group frame), so the IEEE addition order is fixed and any
    engine replays ``weight`` bit-for-bit.  ``alpha = 0.5`` uses
    ``sqrt`` (correctly rounded everywhere); other exponents use
    ``pow``, which may differ in the last ULP across math libraries —
    prefer 0.5/1.0/0.0 when cross-engine bit-parity matters.

    Scale shape: one count aggregate (map-side combined, group keys
    only), then driver-free arithmetic over the per-group frame (one
    row per group — languages/sources, not documents); the fold and
    broadcast total never touch the corpus.  The normalizing fold and
    the main branch BOTH read the per-group frame, so by default it
    is eagerly ``localCheckpoint``-ed at call time (ONE corpus scan;
    without the barrier Catalyst re-executes the aggregate per
    branch).  The trade: construction launches the scan immediately
    and lineage is truncated (a lost executor fails a later action
    instead of recomputing) — pass ``cache=False`` for a fully lazy,
    lineage-recoverable plan that scans the corpus twice (the
    :func:`~dbldatagen_spark.functions.packing.curriculum_order`
    convention).
    """
    _check_temperature_args(
        "temperature_weights", group_col, alpha, 0,
        {"n_docs", "weight", "target_docs", "_wr", "_tot"},
    )
    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w_raw = _alpha_pow(F.col("n_docs").cast("double"), alpha)
    out = _with_total(per, group_col, w_raw, cache).withColumn(
        "weight", F.col("_wr") / F.col("_tot")
    )
    cols = [F.col(group_col), F.col("n_docs"), F.col("weight")]
    if total_budget is not None:
        cols.append(
            F.floor(F.lit(float(total_budget)) * F.col("weight"))
            .cast("long")
            .alias("target_docs")
        )
    return out.select(*cols)


def temperature_token_allocation(
    df: DataFrame,
    group_col: str,
    token_col: str,
    *,
    alpha: float = 0.5,
    target_tokens: int,
    cache: bool = True,
) -> DataFrame:
    """Token-budget temperature mixing — :func:`temperature_weights`
    re-based on the unit training budgets are actually written in.
    The XLM-R/CCNet-style recipe samples group ``g`` proportionally to
    ``mass_g ** alpha``, but a doc-count mass lets a group of short
    documents crowd out a group of long ones; here the mass is the
    group's TOKEN total (``sum(token_col)``), and the returned
    ``target_tokens`` allocation sums to the requested budget EXACTLY
    via a deterministic largest-remainder split (floor every raw
    share, then hand the leftover units to the groups with the largest
    fractional parts, ties broken by ascending group key — the
    Hamilton apportionment rule, replayable by any engine).

    Returns one row per group:
    ``(group, n_docs, n_tokens, weight, target_tokens)`` with
    ``sum(target_tokens) == target_tokens`` exactly.  Zero-token
    groups get ``weight = 0`` and stand last in the remainder queue
    (fractional part 0); an ALL-zero corpus degrades to weight 0
    everywhere and under-fills — filter degenerate corpora upstream
    when the exact sum matters.

    Determinism contract (same as :func:`temperature_weights`): the
    normalizing sum folds the per-group masses SORTED BY GROUP KEY, so
    the IEEE addition order is fixed; ``alpha = 0.5`` uses ``sqrt``
    (correctly rounded everywhere); fractional-part comparisons then
    operate on bit-identical doubles in every engine.

    Scale shape: one map-side-combined (count, sum) aggregate over the
    corpus — group keys and two longs shuffle, never documents — then
    window arithmetic over the per-group frame (one row per
    language/source; the unpartitioned windows are bounded by the
    group count, not the corpus).  By default the per-group frame is
    eagerly ``localCheckpoint``-ed so the normalizing fold and the
    allocation branch share ONE corpus scan; ``cache=False`` opts
    into the fully lazy, lineage-recoverable two-scan plan (see
    :func:`temperature_weights` for the trade).
    """
    _check_temperature_args(
        "temperature_token_allocation", group_col, alpha, target_tokens,
        {"n_docs", "n_tokens", "weight", "target_tokens", *_ALLOC_COLS},
    )
    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum(F.col(token_col).cast("long")), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )
    w_raw = _alpha_pow(F.col("n_tokens").cast("double"), alpha)
    alloc = _largest_remainder(
        _with_total(per, group_col, w_raw, cache), group_col, target_tokens
    )
    return alloc.select(
        F.col(group_col), "n_docs", "n_tokens", "weight", "target_tokens"
    )


def cluster_aware_split(
    df: DataFrame,
    id_col: str,
    fractions: dict,
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    seed: int = 42,
    hash_mode: str = "md5",
    out_col: str = "split",
    key_col: str = "split_key",
    max_iterations: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Leakage-safe train/val/test split: every member of a
    near-duplicate CLUSTER lands in the same split.  A plain
    :func:`split_assign` hashes each document independently, so two
    near-copies the dedup pass surfaced (but a curator chose to keep)
    can straddle train and test — the classic evaluation-leakage bug
    dedup reports exist to prevent.  Here the pair set (any
    near-duplicate detector's output: MinHash, SimHash,
    embedding-cosine, fuzzy-record) is collapsed into connected
    components (:func:`~dbldatagen_spark.functions.dedup
    .duplicate_components` — min-label propagation with pointer
    jumping), and the split decision hashes the CLUSTER
    REPRESENTATIVE (the component's smallest id) instead of the
    document id.  Documents in no pair keep their own id as the key,
    so singletons get EXACTLY the :func:`split_assign` label — adding
    pairs only ever merges documents into one split, never reshuffles
    the rest.

    Returns the input plus ``<key_col>`` (the hashed representative —
    auditable: equal keys MUST mean equal splits) and ``<out_col>``
    (the label).  Deterministic and engine-replayable under
    ``hash_mode="md5"`` (the :func:`split_assign` contract, applied
    to the representative id); transitive by construction — a chain
    a~b, b~c co-locates all three even though a and c were never
    paired directly.

    Scale shape: component propagation shuffles only ``(long, long)``
    label pairs over the PAIR graph (bounded by the near-dup set,
    never the corpus; O(log diameter) rounds, checkpointed — see
    :func:`duplicate_components` for the checkpoint_dir trade); the
    component map joins back by id — one id-keyed left join bounded
    by the number of documents that appear in any pair (AQE picks
    broadcast when the dup set is small, the common case); the label
    itself is the scan-local :func:`split_assign` expression on the
    coalesced key.  Document text never moves.
    """
    for col, side, frame in (
        (id_col, "df", df), (id_a, "pairs", pairs), (id_b, "pairs", pairs),
    ):
        if col not in frame.columns:
            raise ValueError(f"{side} has no column {col!r}")
    for c in (out_col, key_col, "_cas_v", "_cas_c"):
        if c in df.columns:
            raise ValueError(f"output column {c!r} already exists")
    # eager, BEFORE duplicate_components runs its propagation rounds:
    # a bad fraction dict or hash_mode must not cost the full
    # component loop first (split_assign re-validates, cheaply)
    if not fractions:
        raise ValueError("fractions must be non-empty")
    if float(sum(fractions.values())) <= 0:
        raise ValueError("fractions must sum to a positive value")
    check_hash_mode(hash_mode)
    from dbldatagen_spark.functions.dedup import duplicate_components

    comp = duplicate_components(
        pairs, id_a, id_b,
        max_iterations=max_iterations, checkpoint_dir=checkpoint_dir,
    ).select(
        F.col("vertex").alias("_cas_v"),
        F.col("component").alias("_cas_c"),
    )
    # the key keeps df's OWN id type: a wider pairs id would promote
    # the coalesce and change xxhash64 buckets (xxhash64 is
    # type-sensitive), breaking the singletons-get-exactly-the-
    # split_assign-label invariant; representatives must therefore
    # fit the df id type (same entity space — ANSI mode raises
    # loudly if one does not)
    id_type = df.schema[id_col].dataType
    keyed = (
        df.join(comp, df[id_col] == F.col("_cas_v"), "left")
        .withColumn(
            key_col,
            F.coalesce(F.col("_cas_c"), F.col(id_col)).cast(id_type),
        )
        .drop("_cas_v", "_cas_c")
    )
    # the label machinery IS split_assign, applied to the
    # representative key — one implementation of the bucket +
    # cumulative-threshold expression, never two
    return split_assign(
        keyed, key_col, fractions,
        seed=seed, hash_mode=hash_mode, out_col=out_col,
    )


def fertility_token_allocation(
    df: DataFrame,
    group_col: str,
    text_col: str,
    merges,
    *,
    alpha: float = 0.5,
    target_tokens: int,
    max_merges: int = 128,
    checkpoint_chunk: int | None = None,
    cache: bool = True,
) -> DataFrame:
    """Fertility-corrected token-budget mixing — the
    :func:`~dbldatagen_spark.functions.text_analysis
    .tokenizer_fertility` report fed into the
    :func:`temperature_token_allocation` machinery end-to-end, so the
    tokenizer-equity metric DRIVES the mix instead of merely
    describing it.  A token budget split on raw token mass
    double-penalizes languages the vocabulary under-serves: a
    language at 2x fertility (BPE tokens per word) burns twice the
    tokens per sentence, so an equal TOKEN share buys it half the
    CONTENT.  Here the temperature share is computed over WORD mass
    (``n_words ** alpha`` — the tokenizer-independent content unit)
    and then each group's share is scaled by its MEASURED fertility,
    so the token allocation pays each group's actual tokens-per-word
    premium and equal shares mean equal words seen, not equal tokens
    burned (the XLM-R/NLLB equity analyses, turned into the
    allocation rule).

    One fixed-form raw mass per group:
    ``w_alpha * (n_tokens / n_words)`` with ``w_alpha`` =
    ``sqrt(n_words)`` / ``n_words`` / ``1.0`` / ``pow(n_words,
    alpha)`` by the same alpha conventions as
    :func:`temperature_weights` — two IEEE ops in a pinned order, so
    any engine replays it bit-for-bit.  Zero-word groups get weight 0
    (NULL fertility, stand last in the remainder queue).  The budget
    splits EXACTLY by the deterministic largest-remainder rule:
    floor every share, leftover units to the largest fractional
    parts, ties to the ascending group key; the normalizing sum folds
    the per-group masses SORTED BY GROUP KEY.

    Returns one row per group: ``(group, n_docs, n_words, n_tokens,
    fertility, weight, target_tokens)`` with ``sum(target_tokens) ==
    target_tokens`` exactly (when any group has words).

    Scale shape: inherits :func:`tokenizer_fertility`'s single-pass
    profile — the BPE encode is map-only literal replaces riding the
    corpus scan, the report ONE map-side-combined aggregate shuffling
    (group, three longs); everything after runs on the per-group
    frame (one row per language/source), where the unpartitioned
    windows are bounded by the group count, not the corpus.  The
    per-group report is eagerly ``localCheckpoint``-ed by default —
    here the barrier matters most, because WITHOUT it the fold and
    the allocation branch each re-run the full BPE-encode scan
    (measured 5.7x vs 0.9x on the 10x probe); ``cache=False`` opts
    into the lazy two-scan plan (the :func:`temperature_weights`
    trade).
    """
    _check_temperature_args(
        "fertility_token_allocation", group_col, alpha, target_tokens,
        {"n_docs", "n_words", "n_chars", "n_tokens", "fertility", "weight",
         "target_tokens", "group", *_ALLOC_COLS},
    )
    from dbldatagen_spark.functions.text_analysis import tokenizer_fertility

    rep = tokenizer_fertility(
        df, text_col, merges,
        group_col=group_col, max_merges=max_merges,
        checkpoint_chunk=checkpoint_chunk,
    )
    w_alpha = _alpha_pow(F.col("n_words").cast("double"), alpha)
    # ONE fixed form: w_alpha * (n_tokens / n_words) — the fertility
    # scaling IS the equity correction; zero-word groups degrade to 0
    raw = F.when(
        F.col("n_words") > 0,
        w_alpha
        * (F.col("n_tokens").cast("double") / F.col("n_words").cast("double")),
    ).otherwise(F.lit(0.0))
    # the checkpoint matters most here: the fertility report is the
    # full BPE-encode corpus scan (measured 5.7x vs 0.9x on the 10x
    # probe without it)
    alloc = _largest_remainder(
        _with_total(rep, "group", raw, cache), "group", target_tokens
    )
    return alloc.select(
        "group", "n_docs", "n_words", "n_tokens",
        F.col("tokens_per_word").alias("fertility"),
        "weight", "target_tokens",
    )


def authority_weighted_sample(
    df: DataFrame,
    id_col: str,
    url_col: str,
    authority: DataFrame,
    *,
    node_col: str = "host",
    rank_col: str = "rank_units",
    level: str = "host",
    suffix_list=None,
    base_ppm: int = 100_000,
    max_ppm: int = 1_000_000,
    seed: int = 42,
    hash_mode: str = "md5",
    out_prefix: str = "auth",
    broadcast_authority: bool = True,
) -> DataFrame:
    """Authority-prior document sampling — the consumption pattern of
    :func:`~dbldatagen_spark.functions.graph.host_authority` in
    Common Crawl-style curation: keep documents at a rate scaled by
    their host's (or registrable domain's) graph authority, so
    high-authority sites contribute densely and the long tail of
    unknown or low-rank hosts still trickles in at a floor rate
    (never silently zero — new sites must be discoverable).

    Each document's host comes from the
    :func:`~dbldatagen_spark.functions.curation.url_host_expr` linear
    chain (``level="domain"`` additionally collapses it through
    :func:`~dbldatagen_spark.functions.curation
    .registrable_domain_expr`, with ``suffix_list`` feeding a real
    PSL snapshot); the keep rate interpolates INTEGER-exactly between
    the floor and ceiling on the host's rank relative to the
    best-ranked host::

        keep_ppm = base_ppm + ((max_ppm - base_ppm) * rank_units)
                              // max(rank_units)

    so the top host keeps exactly ``max_ppm`` per million and an
    unranked/unparseable host keeps exactly ``base_ppm``.  The keep
    decision is the repo's deterministic ``[0, 1e6)`` id-hash bucket
    (``hash_mode="md5"`` for the engine-portable replay,
    ``xxhash64`` for the cheap JVM variant) — partitioning-
    independent, replayable row-by-row.  Output is the input plus
    FLAGS (``<prefix>_node``, ``<prefix>_rank_units`` NULL when
    unranked, ``<prefix>_keep_ppm``, ``<prefix>_keep``), not a filter
    — auditable like :func:`distribution_matched_sample`; filter on
    the keep column to materialize.

    Scale shape: host extraction is map-only regex riding the corpus
    scan (the single-reference chain — no pushdown re-expansion
    hazard); the rank table joins on the host key, BROADCAST by
    default (authority frames are host-level — millions of short
    rows where the corpus is trillions; pass
    ``broadcast_authority=False`` at full-crawl host cardinality to
    let AQE pick a shuffle join, which is then the flagging pass's
    only exchange); ``max(rank_units)`` rides the plan as a one-row
    broadcast-crossJoined aggregate (r16; was an eager driver
    collect per call), and the interpolation + hash are scan-local
    whole-stage-codegen arithmetic.  At ``level="domain"`` the PSL
    collapse runs over the DISTINCT host set, never per corpus row
    (:func:`registrable_domain_expr`'s own contract — a real PSL
    snapshot is a ~10k-entry array probe): one host-cardinality
    distinct, the domain mapping + rank join on that tiny frame
    (``broadcast_authority`` hints only the RANKS side of it), then
    the host -> (domain, rank) map joins back onto the corpus by
    host — deliberately unhinted, since its cardinality is the
    corpus's host set, not the authority frame's: AQE broadcasts it
    at runtime when it is actually small.  An in-plan headroom guard
    validates ``(max_ppm - base_ppm) * max(rank_units) < 2^63``
    (raising AT ACTION TIME, like the duplicate-node-key guard) —
    at the default pagerank scale of 1e12 the product tops out near
    1e18, inside int64; rescale rank units before calling if you
    carry larger units.

    Errors: bad ppm bounds, ``hash_mode`` or ``level``, missing columns
    and clashing output columns raise ``ValueError`` at construction.
    The duplicate-node-key and int64-headroom guards are in-plan
    ``raise_error`` calls: construction runs no Spark job, and they
    raise at ACTION time as Spark errors
    (``pyspark.errors.SparkRuntimeException``), not ``ValueError``.  The
    duplicate-key guard gates the join key, so any action over the
    output fires it, whatever columns it keeps; the headroom guard
    fires when ``<prefix>_keep_ppm`` (or ``<prefix>_keep``) is
    evaluated.
    """
    if not 0 <= base_ppm <= max_ppm <= 1_000_000:
        raise ValueError(
            f"need 0 <= base_ppm <= max_ppm <= 1000000, got "
            f"base_ppm={base_ppm}, max_ppm={max_ppm}"
        )
    check_hash_mode(hash_mode)
    if level not in ("host", "domain"):
        raise ValueError(f"level must be host|domain, got {level!r}")
    for col, side, frame in (
        (id_col, "df", df), (url_col, "df", df),
        (node_col, "authority", authority), (rank_col, "authority", authority),
    ):
        if col not in frame.columns:
            raise ValueError(f"{side} has no column {col!r}")
    out_node = f"{out_prefix}_node"
    out_rank = f"{out_prefix}_rank_units"
    out_ppm = f"{out_prefix}_keep_ppm"
    out_keep = f"{out_prefix}_keep"
    for c in (out_node, out_rank, out_ppm, out_keep, "_awsh",
              "_aws_mx", "_aws_n", "_aws_nd"):
        if c in df.columns:
            raise ValueError(f"output column {c!r} already exists")
    from dbldatagen_spark.functions.curation import (
        registrable_domain_expr,
        url_host_expr,
    )

    # One-row authority aggregate riding the plan as a broadcast
    # crossJoin (r16; was an eager collect — a full execution of the
    # authority frame's lineage at construction per call).  The
    # duplicate-key and int64-headroom contracts raise AT ACTION TIME
    # via raise_error with unchanged firing conditions and messages.
    mxf = authority.agg(
        F.max(F.col(rank_col).cast("long")).alias("_aws_mx"),
        # non-null count, NOT count(*): a NULL-keyed rank row never
        # matches the left join (harmless), and count(*) would make
        # the uniqueness check below spuriously reject it
        F.count(F.col(node_col)).alias("_aws_n"),
        F.count_distinct(F.col(node_col)).alias("_aws_nd"),
    )
    span = max_ppm - base_ppm
    # a duplicate node key would fan the left join out — MORE
    # output rows than input, silently breaking the flags-not-a-
    # filter contract and double-counting documents downstream
    dup_msg = F.concat_ws(
        "",
        F.lit(f"authority frame has duplicate {node_col!r} keys ("),
        F.col("_aws_n").cast("string"),
        F.lit(" non-null rows, "),
        F.col("_aws_nd").cast("string"),
        F.lit(" distinct) — aggregate it to one row per node first"),
    )
    over_msg = F.concat_ws(
        "",
        F.lit(
            f"authority_weighted_sample: (max_ppm - base_ppm) * "
            f"max({rank_col}) = {span} * "
        ),
        F.col("_aws_mx").cast("string"),
        F.lit(
            " overflows int64 — rescale the rank units (divide by a "
            "constant) first"
        ),
    )
    # the duplicate-key guard gates the corpus-side JOIN KEY: a consumer
    # selecting only passthrough columns still needs the key to run the
    # join, so column pruning cannot drop the raise while the fan-out
    # it guards against is possible
    df = df.crossJoin(F.broadcast(mxf))
    host = F.when(
        F.col("_aws_n") != F.col("_aws_nd"), F.raise_error(dup_msg)
    ).otherwise(url_host_expr(F.col(url_col)))
    ranks = authority.select(
        F.col(node_col).alias(out_node),
        F.col(rank_col).cast("long").alias(out_rank),
    )
    if level == "domain":
        # registrable_domain_expr is documented for HOST-level frames,
        # never per-row corpus scans (a real PSL snapshot is a
        # ~10k-entry array probe per row): collapse the DISTINCT host
        # set instead — host-cardinality work, millions where the
        # corpus is trillions — attach ranks there, and join the
        # host -> (domain, rank) map back onto the corpus by host
        with_host = df.withColumn("_awsh", host)
        hmap = (
            with_host.where(F.col("_awsh").isNotNull())
            .select("_awsh")
            .distinct()
            .withColumn(
                out_node,
                registrable_domain_expr(
                    F.col("_awsh"), suffix_list=suffix_list
                ),
            )
            .join(
                F.broadcast(ranks) if broadcast_authority else ranks,
                out_node,
                "left",
            )
        )
        # NO broadcast hint on hmap itself: its cardinality is the
        # CORPUS's distinct host set (unbounded by the authority
        # frame broadcast_authority was sized for — a full crawl has
        # tens of millions of hosts); AQE sizes this join at runtime
        # and broadcasts it when the host set is actually small
        joined = with_host.join(hmap, "_awsh", "left").drop("_awsh")
    else:
        if broadcast_authority:
            ranks = F.broadcast(ranks)
        joined = df.withColumn(out_node, host).join(ranks, out_node, "left")
    base_l = F.lit(base_ppm).cast("long")
    # empty/degenerate authority: every document keeps at the floor
    # rate (documented — never a silent full-keep)
    ppm = F.when(
        F.col("_aws_mx").isNull() | (F.col("_aws_mx") <= 0), base_l
    )
    if span > 0:
        # int64-safe rearrangement of span * mx >= 2^63:
        # mx > (2^63 - 1) div span (span is a positive Python int)
        ppm = ppm.when(
            F.col("_aws_mx") > F.lit((2**63 - 1) // span),
            F.raise_error(over_msg).cast("long"),
        )
    # integer `div`, never `/`: span * rank_units reaches ~1e18 at
    # the default pagerank scale — past double's 2^53 exact-integer
    # range, where a float divide + floor can land off by one
    ppm = ppm.otherwise(
        base_l
        + F.expr(
            f"({span}L * coalesce(`{out_rank}`, 0L)) div _aws_mx"
        ).cast("long")
    )
    bucket = hash_bucket(seed, id_col, 1_000_000, hash_mode)
    return (
        joined.withColumn(out_ppm, ppm)
        .withColumn(out_keep, bucket < F.col(out_ppm))
        .drop("_aws_mx", "_aws_n", "_aws_nd")
    )


def authority_contamination_sample(
    df: DataFrame,
    id_col: str,
    url_col: str,
    text_col: str,
    authority: DataFrame,
    benchmark: DataFrame,
    *,
    node_col: str = "host",
    rank_col: str = "rank_units",
    level: str = "host",
    suffix_list=None,
    base_ppm: int = 100_000,
    max_ppm: int = 1_000_000,
    bench_text_col: Optional[str] = None,
    n: int = 8,
    min_shared: int = 1,
    seed: int = 42,
    hash_mode: str = "md5",
    out_prefix: str = "auth",
    broadcast_authority: bool = True,
) -> DataFrame:
    """Authority-prior sampling with benchmark-leak quarantine in one
    pass — the two admission gates a web-scale curation pipeline runs
    back-to-back, composed so they share one id-hash keep decision:
    :func:`authority_weighted_sample` scales the keep rate by the
    host's (or registrable domain's) graph authority, and documents
    sharing >= ``min_shared`` distinct word ``n``-grams with ANY
    ``benchmark`` document are quarantined regardless of how
    authoritative their host is (the
    :func:`contamination_aware_split` reroute rule: eval leakage
    overrides every other admission signal).

    Output is the input plus FLAGS, never a filter — the authority
    columns (``<prefix>_node``, ``<prefix>_rank_units``,
    ``<prefix>_keep_ppm``, ``<prefix>_keep``) exactly as
    :func:`authority_weighted_sample` emits them, plus

    - ``<prefix>_shared_ngrams`` — benchmark-overlap evidence
      (NULL for clean documents, the
      :func:`contamination_aware_split` evidence contract)
    - ``<prefix>_admit`` — the fused decision:
      ``keep AND clean``.  Auditable three ways: sampled out
      (``keep=false``), quarantined (``shared_ngrams`` non-NULL),
      or admitted.

    Scale shape: the authority side adds its rank join (broadcast by
    default) to the corpus scan with the keep decision scan-local
    (:func:`authority_weighted_sample`'s contract, including the
    distinct-host PSL collapse at ``level="domain"``); the
    contamination side reduces both corpora to 8-byte gram-hash
    postings before its only content-keyed shuffle (benchmark gram
    set deduplicated first — eval suites are tiny), and the
    evidence attaches by ONE id-keyed left join bounded by the leak
    rate, not the corpus.  Document bodies never shuffle.
    """
    out_shared = f"{out_prefix}_shared_ngrams"
    out_admit = f"{out_prefix}_admit"
    for c in (out_shared, out_admit):
        if c in df.columns:
            raise ValueError(f"output column {c!r} already exists")
    if text_col not in df.columns:
        raise ValueError(f"df has no column {text_col!r}")
    from dbldatagen_spark.functions.dedup import ngram_contamination

    flagged = authority_weighted_sample(
        df, id_col, url_col, authority,
        node_col=node_col, rank_col=rank_col, level=level,
        suffix_list=suffix_list, base_ppm=base_ppm, max_ppm=max_ppm,
        seed=seed, hash_mode=hash_mode, out_prefix=out_prefix,
        broadcast_authority=broadcast_authority,
    )
    bt = bench_text_col or text_col
    bench = benchmark.select(F.col(bt).alias(text_col))
    leaked = ngram_contamination(
        bench, df.select(F.col(id_col), F.col(text_col)),
        id_col, text_col, n=n, min_shared=min_shared,
    ).select(
        F.col(id_col), F.col("n_shared_ngrams").alias(out_shared)
    )
    out_keep = f"{out_prefix}_keep"
    return flagged.join(leaked, id_col, "left").withColumn(
        out_admit, F.col(out_keep) & F.col(out_shared).isNull()
    )


def contamination_aware_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    fractions: dict,
    *,
    bench_text_col: str = None,
    n: int = 8,
    min_shared: int = 1,
    seed: int = 42,
    hash_mode: str = "xxhash64",
    out_col: str = "split",
    quarantine_label: str = "quarantined",
    shared_col: str = "n_shared_ngrams",
) -> DataFrame:
    """Contamination-aware train/val/test split: compose
    :func:`split_assign` with
    :func:`~dbldatagen_spark.functions.dedup.ngram_contamination` so
    documents that LEAK benchmark content never land in ANY training
    split — the one-pass decontaminating splitter every eval-aware
    pipeline runs (GPT-3 appendix C / PaLM-style n-gram overlap
    decontamination, fused with the deterministic split).

    Every row first gets its provisional content-free hash split from
    ``fractions`` (stable under repartitioning, re-runs, appends —
    the :func:`split_assign` contract); rows sharing >= ``min_shared``
    distinct word ``n``-grams with any ``benchmark`` document are then
    rerouted to ``quarantine_label`` regardless of their provisional
    label, with the overlap count in ``shared_col`` (NULL for clean
    rows).  Quarantining from EVERY split — not just train — keeps
    the invariant auditable downstream: zero contaminated ids in any
    consumable split, and the quarantine set carries its own evidence
    column for review or re-admission.

    ``benchmark`` needs only a text column (``bench_text_col``
    defaults to ``text_col``); its ids never matter because the check
    is "does this training doc contain ANY benchmark n-gram".

    Returns the input columns plus ``out_col`` and ``shared_col``.

    Scale shape: the provisional split is a scan-local expression
    (zero shuffles); contamination reduces both sides to 8-byte
    n-gram-hash postings before the only content-keyed shuffle (the
    benchmark side deduplicates its gram set first — eval suites are
    tiny next to the corpus, so the posting join's build side stays
    small); the final reroute is one id-keyed left join of the
    contaminated-id frame (bounded by the test-leak rate, not the
    corpus).  Document bodies cross the wire exactly never.
    """
    if quarantine_label in fractions:
        raise ValueError(
            f"quarantine_label {quarantine_label!r} collides with a "
            f"fractions key — pick a distinct label"
        )
    for c in (out_col, shared_col):
        if c in df.columns:
            raise ValueError(
                f"contamination_aware_split: output column {c!r} "
                f"already exists on the input — rename it or pass a "
                f"different out_col/shared_col"
            )
    from dbldatagen_spark.functions.dedup import ngram_contamination

    bt = bench_text_col or text_col
    bench = benchmark.select(F.col(bt).alias(text_col))
    provisional = split_assign(
        df, id_col, fractions, seed=seed, hash_mode=hash_mode,
        out_col=out_col,
    )
    leaked = ngram_contamination(
        bench, df.select(F.col(id_col), F.col(text_col)),
        id_col, text_col, n=n, min_shared=min_shared,
    ).select(F.col(id_col), F.col("n_shared_ngrams").alias(shared_col))
    joined = provisional.join(leaked, id_col, "left")
    return joined.select(
        *[provisional[c] for c in df.columns],
        F.when(F.col(shared_col).isNotNull(), F.lit(quarantine_label))
        .otherwise(F.col(out_col))
        .alias(out_col),
        F.col(shared_col),
    )


def distribution_matched_sample(
    df: DataFrame,
    id_col: str,
    score_col: str,
    reference: DataFrame,
    ref_score_col: str = None,
    *,
    n_bins: int = 64,
    scale_ppm: int = 1_000_000,
    seed: int = 42,
    hash_mode: str = "xxhash64",
    out_prefix: str = "match",
) -> DataFrame:
    """Histogram-matched deterministic subsampling — keep corpus rows
    at per-bin rates so ``score_col``'s distribution tracks a
    REFERENCE frame's (match a curated corpus's length profile, a
    benchmark's quality mix, a previous snapshot's domain balance).
    The importance-ratio resampler of data mixing, with the ratio
    capped at 1 so no row is ever duplicated.

    The contract is INTEGER-EXACT end to end (replayable on any
    engine, any partitioning):

    - shared equal-width bins over the union value range of both
      frames: ``bin = min(n_bins-1, floor((s - lo) / (hi - lo) *
      n_bins))`` with ``lo``/``hi`` the min/min and max/max of the
      two frames' valid scores (NULL/NaN/+-inf rows get NULL bin,
      rate 0, keep false);
    - per-bin keep rate in ppm, exact integer floor arithmetic over
      the two histograms (corpus counts ``c_b`` of total ``C``,
      reference counts ``r_b`` of total ``R``):
      ``rate_b = min(1_000_000, (scale_ppm * r_b * C) div (R * c_b))``
      — computed DRIVER-SIDE over the collected ``<= n_bins``-row
      histograms with Python big-int arithmetic, so no intermediate
      overflows at any corpus size; a bin with reference mass but no
      corpus mass cannot be filled (rates elsewhere are unaffected —
      matching is exact only where the corpus has mass, the standard
      capped-importance-ratio caveat, and lowering ``scale_ppm``
      buys back exactness at the cost of volume);
    - keep decision: ``hash_bucket(seed, id) < rate_b`` with the
      same ``[0, 1e6)`` id-hash bucket :func:`split_assign` uses
      (``hash_mode="md5"`` for the cross-engine-replayable variant).

    Output: the input columns plus ``<out_prefix>_bin`` (int, NULL
    for invalid scores), ``<out_prefix>_rate_ppm`` (long), and
    ``<out_prefix>_keep`` (boolean) — flags, not a filter, so the
    decision is auditable row-by-row; filter on the keep column to
    materialize the sample.

    Scale shape: ONE eager job (r16; was four) — the two frames'
    valid scores union under a side tag, the one-row union-range
    aggregate rides as a broadcast crossJoin feeding the in-plan bin
    expression, and a single map-side-combined histogram collapses
    everything to one bounded driver collect (``<= 2*n_bins`` rows,
    carrying the range; the corpus still scans twice inside that
    job, reduce volume bounded by ``n_bins``).  The flagging pass is
    scan-local whole-stage-codegen arithmetic: the rate table rides
    the plan as an ``n_bins`` literal array indexed by bin — no
    join, no shuffle, nothing but the hash and a comparison per row.
    """
    if n_bins < 1 or n_bins > 4096:
        raise ValueError(f"n_bins must be in [1, 4096], got {n_bins}")
    if not 0 < scale_ppm <= 1_000_000:
        raise ValueError(
            f"scale_ppm must be in (0, 1000000], got {scale_ppm}"
        )
    # validate BEFORE the range/histogram jobs: a typo here must not
    # cost two corpus scans first
    check_hash_mode(hash_mode)
    ref_score_col = ref_score_col or score_col
    for frame, col, side in ((df, score_col, "df"),
                             (reference, ref_score_col, "reference")):
        if col not in frame.columns:
            raise ValueError(f"{side} has no column {col!r}")
    if id_col not in df.columns:
        # eager, like the score-column checks: a missing id must not
        # surface as an AnalysisException AFTER the two histogram jobs
        raise ValueError(f"df has no column {id_col!r}")
    out_bin = f"{out_prefix}_bin"
    out_rate = f"{out_prefix}_rate_ppm"
    out_keep = f"{out_prefix}_keep"
    for c in (out_bin, out_rate, out_keep):
        if c in df.columns:
            raise ValueError(f"output column {c!r} already exists")

    def _valid(col):
        s = F.col(col).cast("double")
        return (
            s.isNotNull() & ~F.isnan(s)
            & (s > float("-inf")) & (s < float("inf"))
        )

    # ONE eager job computes the union value range AND both per-side
    # histograms (r16; was FOUR — a min/max scan and a histogram scan
    # per frame, each a separate driver round-trip): the two frames'
    # valid scores union with a side tag, the one-row union-range
    # aggregate rides as a broadcast crossJoin feeding the in-plan bin
    # expression (same doubles the old Python literals carried — the
    # span is the identical double subtraction), and the collected
    # rows carry the range back for the literal output expressions.
    def _vals(frame, col, side):
        s = F.col(col).cast("double")
        return frame.where(_valid(col)).select(
            s.alias("_s"), F.lit(side).alias("_side")
        )

    u = _vals(df, score_col, 0).unionByName(
        _vals(reference, ref_score_col, 1)
    )
    lohi = u.agg(F.min("_s").alias("_glo"), F.max("_s").alias("_ghi"))
    span_e = F.col("_ghi") - F.col("_glo")
    bin_e = F.when(span_e <= F.lit(0.0), F.lit(0)).otherwise(
        F.least(
            F.lit(n_bins - 1),
            F.floor(
                (F.col("_s") - F.col("_glo")) / span_e * F.lit(n_bins)
            ).cast("int"),
        )
    )
    hist_rows = (
        u.crossJoin(F.broadcast(lohi))
        .groupBy("_side", "_glo", "_ghi", bin_e.alias("_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        .collect()
    )
    c_hist: dict = {}
    r_hist: dict = {}
    glo = ghi = None
    for row in hist_rows:
        (c_hist if row["_side"] == 0 else r_hist)[row["_b"]] = row["_n"]
        glo, ghi = row["_glo"], row["_ghi"]
    if not c_hist or not r_hist:
        raise ValueError(
            "distribution_matched_sample: a frame has no valid "
            "(non-NULL, finite) scores"
        )
    lo = float(glo)
    hi = float(ghi)
    span = hi - lo

    def _bin(col):
        s = F.col(col).cast("double")
        if span <= 0:
            return F.when(_valid(col), F.lit(0))
        return F.when(
            _valid(col),
            F.least(
                F.lit(n_bins - 1),
                F.floor((s - F.lit(lo)) / F.lit(span) * F.lit(n_bins))
                .cast("int"),
            ),
        )

    C = sum(c_hist.values())
    R = sum(r_hist.values())
    rates = []
    for b in range(n_bins):
        c_b, r_b = c_hist.get(b, 0), r_hist.get(b, 0)
        if c_b == 0 or r_b == 0:
            rates.append(0)
        else:
            # exact big-int floor; min() caps the importance ratio at 1
            rates.append(min(1_000_000, (scale_ppm * r_b * C) // (R * c_b)))

    bucket = hash_bucket(seed, id_col, 1_000_000, hash_mode)

    rate_arr = F.array(*[F.lit(r).cast("long") for r in rates])
    out = df.withColumn(out_bin, _bin(score_col))
    # the NULL-bin guard must be an EXPLICIT when: element_at with a
    # nullable runtime index does not reliably propagate NULL in
    # compiled plans (observed returning the last element for a NULL
    # index under whole-stage codegen, while the constant-folded
    # literal-NULL case returns NULL)
    out = out.withColumn(
        out_rate,
        F.when(
            F.col(out_bin).isNotNull(),
            F.element_at(rate_arr, F.col(out_bin) + F.lit(1)),
        ).otherwise(F.lit(0).cast("long")),
    )
    return out.withColumn(out_keep, bucket < F.col(out_rate))
