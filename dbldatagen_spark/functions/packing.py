"""Sequence packing for LLM training pipelines.

Tokenized documents are trained on as fixed-length sequences; the standard
preparation concatenates documents (in a shuffled but *reproducible* order)
into one token stream per shard and chops the stream every ``max_tokens``
tokens. The operator that matters at corpus scale is the *placement map*:
for every document, which shard it lands in, its byte/token offset in that
shard's stream, and which fixed-length training sequences it spans. With
that map, the actual tensor materialization is an embarrassingly parallel
per-shard pass.

Spark-first design — the whole computation is two expressions and one
window:

* shard assignment is a scan-local hash (no shuffle on its own);
* the running offset is a prefix sum *within each shard* — one shuffle on
  the shard key, and each shard's sort is bounded by ``corpus / num_shards``,
  so sizing ``num_shards`` to the cluster (thousands at 100 TB) keeps every
  sort in-memory. There is deliberately NO global ordering: a single global
  prefix sum would funnel the corpus through one sort, which is exactly the
  scale bug this formulation avoids.

Determinism: both the shard and the within-shard order are content-free
functions of the document id and the seed, so the packing is identical
under repartitioning, re-runs, appends (for already-present ids), and
engine choice (``hash_mode="md5"`` keeps the layout recomputable by any
engine with an md5 function — the same portability trick
:func:`~dbldatagen_spark.functions.sampling.split_assign` uses).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dbldatagen_spark.functions._hashing import hash_bucket


def _order_key(id_col: str, seed: int, hash_mode: str) -> Column:
    """Deterministic pseudo-random ordering key for a document id
    (``hash_mode`` already checked by :func:`hash_bucket`)."""
    if hash_mode == "xxhash64":
        return F.xxhash64(F.lit(seed), F.col(id_col))
    # hex string — identical lexicographic order in any engine
    return F.md5(F.concat_ws("-", F.lit(seed), F.col(id_col).cast("string")))


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    max_tokens: int,
    *,
    num_shards: int = 64,
    seed: int = 42,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Place every document into a packed fixed-length-sequence layout.

    Documents are hashed into ``num_shards`` independent streams, shuffled
    within each stream by a seeded hash, concatenated, and chopped every
    ``max_tokens`` tokens (documents straddle sequence boundaries, the
    GPT-style packing convention — no padding waste).

    Returns one row per input row:

    ``(id, shard, start_offset, n_tokens, first_seq, last_seq, n_seqs)``

    where ``start_offset`` is the document's position in its shard's token
    stream and ``first_seq``/``last_seq`` are the indices of the
    fixed-length sequences it touches (``seq k`` covers tokens
    ``[k*max_tokens, (k+1)*max_tokens)``). A zero-token document occupies
    no sequence span: ``last_seq = first_seq`` and ``n_seqs = 1`` by
    convention (it sits at a boundary point inside ``first_seq``).

    ``token_count_col`` is any non-negative count column — whitespace
    tokens, BPE counts from a tokenizer pass, even bytes; packing is
    agnostic to how lengths were measured.

    Plan: one shuffle (hash-partition by shard) + per-shard bounded sort
    for the prefix-sum window. No UDF, no global sort, no collect.
    """
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    if num_shards <= 0:
        raise ValueError(f"num_shards must be positive, got {num_shards}")

    shard = hash_bucket(seed, id_col, num_shards, hash_mode)
    ordk = _order_key(id_col, seed + 1, hash_mode)

    n_tok = F.col(token_count_col).cast("long")
    base = df.select(
        F.col(id_col),
        shard.cast("long").alias("shard"),
        ordk.alias("_ord"),
        n_tok.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("_ord"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("start_offset")
    out = base.select(id_col, "shard", start, "n_tokens")
    first_seq = F.floor(F.col("start_offset") / max_tokens)
    last_seq = F.when(
        F.col("n_tokens") > 0,
        F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / max_tokens),
    ).otherwise(first_seq)
    return out.select(
        id_col,
        "shard",
        "start_offset",
        "n_tokens",
        first_seq.cast("long").alias("first_seq"),
        last_seq.cast("long").alias("last_seq"),
        (last_seq - first_seq + 1).cast("long").alias("n_seqs"),
    )


def packing_stats(packed: DataFrame, max_tokens: int) -> DataFrame:
    """Shard-level summary of a :func:`pack_sequences` layout: token
    totals, sequence counts, and the tail-waste fraction (tokens of the
    final partially-filled sequence per shard). One aggregation, grouped
    on the already-partitioned shard key."""
    return (
        packed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .select(
            "shard",
            "n_docs",
            "total_tokens",
            F.ceil(F.col("total_tokens") / max_tokens).cast("long").alias("n_sequences"),
            (
                F.when(
                    F.col("total_tokens") % max_tokens == 0, F.lit(0.0)
                ).otherwise(
                    1.0 - (F.col("total_tokens") % max_tokens) / F.lit(float(max_tokens))
                )
            ).alias("tail_waste_frac"),
        )
    )


def sequence_length_histogram(
    df: DataFrame,
    count_col: str,
) -> DataFrame:
    """Power-of-two histogram of a token-count column — the planning
    input for :func:`pack_sequences` (choosing ``max_tokens`` and
    ``num_shards``) and for tokenizer/sequence-budget decisions.

    Rows: ``(bucket, bucket_lo, bucket_hi, n_docs, total_tokens)`` where
    bucket ``b`` covers counts in ``[2^b, 2^(b+1))``; zero-length docs
    land in bucket ``-1`` (``[0, 1)``). One map-side-combined
    aggregation over at most ~64 distinct buckets — scan-bound at any
    corpus size.
    """
    n = F.col(count_col).cast("long")
    # floor(log2(n)) computed EXACTLY as len(binary(n)) - 1: libm log2 of
    # a power of two can land a hair under the integer and floor() then
    # misbuckets; string length of the binary form cannot
    bucket = F.when(n <= 0, F.lit(-1).cast("long")).otherwise(
        (F.length(F.bin(n)) - 1).cast("long")
    )
    return (
        df.select(bucket.alias("bucket"), n.alias("_n"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_n").cast("long").alias("total_tokens"),
        )
        .select(
            "bucket",
            # pyspark's shiftleft() only takes an int literal for numBits;
            # the SQL form accepts a column
            F.when(F.col("bucket") < 0, F.lit(0).cast("long"))
            .otherwise(F.expr("shiftleft(cast(1 as bigint), cast(bucket as int))"))
            .alias("bucket_lo"),
            F.when(F.col("bucket") < 0, F.lit(1).cast("long"))
            .otherwise(
                F.expr("shiftleft(cast(1 as bigint), cast(bucket + 1 as int))")
            )
            .alias("bucket_hi"),
            "n_docs",
            "total_tokens",
        )
    )


def length_bucket_batches(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    *,
    bucket_boundaries,
    batch_tokens: int,
    num_shards: int = 16,
    seed: int = 42,
    hash_mode: str = "md5",
) -> DataFrame:
    """Length-bucketed batching — the padding-efficiency layout for
    models that PAD rather than pack (SFT, encoders, rerankers; the
    ``bucket_by_sequence_length`` convention): documents are routed to
    the smallest length bucket whose cap holds them, every batch draws
    only from one bucket and pads to that bucket's cap (static shapes,
    compiler-friendly), and each bucket's batch size is
    ``max(1, batch_tokens // cap)`` so every batch costs roughly the
    same padded-token budget.  The dual of :func:`pack_sequences`,
    which concatenates across documents and never pads.

    Documents longer than the last boundary go to the OVERFLOW bucket
    (``bucket = len(bucket_boundaries)``): one document per batch,
    padded to itself (``pad_tokens = 0``) — deterministic, loud in the
    report, and never silently dropped or truncated.

    Returns one row per input row:
    ``(id, n_tokens, bucket, bucket_cap, shard, batch_index,
    pos_in_batch, pad_tokens)`` — ``batch_index`` counts batches
    within ``(bucket, shard)``; a NULL or negative token count yields
    NULL for every assignment column (excluded from batching, never
    dropped).

    Determinism: assignment is a pure function of ``(seed, id, count)``
    — bucket by boundary comparison, shard and in-shard order by the
    seeded hash (``md5`` hex ranks identically in any engine), batch
    arithmetic on ``row_number``.  Any engine replays every column.

    Scale shape: one shuffle keyed by ``(bucket, shard)`` — counts and
    ids move, never text — then a bounded per-(bucket, shard) sort for
    the row_number.  Sharding inside each bucket is what keeps this
    off the one-task-per-bucket global sort (buckets are few by
    design; a 100 TB corpus' 'median-length' bucket in a single sort
    task would be the exact hot-partition hazard the round-12 skew
    audit removes elsewhere); the cost is that each shard's final
    partial batch pads a little more, the same trade
    ``pack_sequences`` documents for its shard streams.
    """
    bounds = [int(b) for b in bucket_boundaries]
    if not bounds:
        raise ValueError("bucket_boundaries must be non-empty")
    if any(b <= 0 for b in bounds) or sorted(set(bounds)) != bounds:
        raise ValueError(
            f"bucket_boundaries must be positive, strictly ascending, "
            f"got {bucket_boundaries!r}"
        )
    if batch_tokens < 1:
        raise ValueError(f"batch_tokens must be >= 1, got {batch_tokens}")
    if num_shards < 1:
        raise ValueError(f"num_shards must be >= 1, got {num_shards}")
    n_over = len(bounds)

    n_tok = F.col(token_count_col).cast("long")
    valid = n_tok.isNotNull() & (n_tok >= 0)

    bucket = F.lit(n_over)
    for i in range(len(bounds) - 1, -1, -1):
        bucket = F.when(n_tok <= F.lit(bounds[i]), F.lit(i)).otherwise(bucket)
    cap = F.when(F.col("bucket") == F.lit(n_over), F.col("n_tokens"))
    for i, b in enumerate(bounds):
        cap = F.when(F.col("bucket") == F.lit(i), F.lit(b)).otherwise(cap)
    bsize = F.when(F.col("bucket") == F.lit(n_over), F.lit(1))
    for i, b in enumerate(bounds):
        bsize = F.when(
            F.col("bucket") == F.lit(i), F.lit(max(1, batch_tokens // b))
        ).otherwise(bsize)

    shard = hash_bucket(seed, id_col, num_shards, hash_mode)
    base = df.select(
        F.col(id_col),
        F.when(valid, n_tok).alias("n_tokens"),
        F.when(valid, bucket).cast("int").alias("bucket"),
        F.when(valid, shard).cast("long").alias("shard"),
        _order_key(id_col, seed + 1, hash_mode).alias("_ord"),
    ).withColumn("_bsize", bsize.cast("long"))
    # invalid rows (NULL/negative counts) never enter the window —
    # they all share the one (NULL, NULL) key, the exact unsplittable
    # hot-partition shape the skew audit bans; run row_number over
    # valid rows only and union the invalid rows back with NULL
    # assignments (both branches are narrow filters over the same
    # pruned scan — no extra shuffle)
    w = Window.partitionBy("bucket", "shard").orderBy(
        F.col("_ord"), F.col(id_col)
    )
    ranked = (
        base.where(F.col("bucket").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .unionByName(
            base.where(F.col("bucket").isNull()).withColumn(
                "_rn", F.lit(None).cast("int")
            )
        )
    )
    cap_l = cap.cast("long")
    return ranked.select(
        F.col(id_col),
        "n_tokens",
        "bucket",
        cap_l.alias("bucket_cap"),
        "shard",
        # integer 'div', matching pos_in_batch and the oracle —
        # float division would drift once (_rn - 1) leaves double's
        # exact-integer range
        F.expr("(_rn - 1) div _bsize").cast("long").alias(
            "batch_index"
        ),
        F.pmod(F.col("_rn") - 1, F.col("_bsize")).cast("long").alias(
            "pos_in_batch"
        ),
        (cap_l - F.col("n_tokens")).alias("pad_tokens"),
    )


def curriculum_order(
    df: DataFrame,
    id_col: str,
    score_col: str,
    *,
    group_col=None,
    n_buckets: int = 3,
    n_bins: int = 1024,
    num_shards: Optional[int] = None,
    seed: int = 42,
    hash_mode: str = "md5",
    easy_high: bool = False,
    bucket_col: str = "difficulty",
    cache: bool = True,
) -> DataFrame:
    """Curriculum-learning layout: deterministic difficulty-ordered
    shard assignment (Bengio et al. 2009 curriculum ordering, at
    corpus scale).  Documents are bucketed into ``n_buckets``
    difficulty bands by score quantile
    (:func:`~dbldatagen_spark.functions.curation.score_buckets` —
    histogram thresholds, no per-group global sort), then SHUFFLED
    within each band by a seeded content-free hash so a training run
    consumes bands easiest -> hardest while the order inside a band
    stays decorrelated from ingestion order.  ``difficulty`` is
    1..n_buckets in TRAINING order: with the default ``easy_high=
    False`` a LOW score is easy (score = perplexity/loss convention);
    pass ``easy_high=True`` when a HIGH score is easy (score =
    quality/confidence convention) — the quantile band is flipped so
    difficulty 1 is always what the curriculum consumes first.

    Returns one row per input row: ``(id, <bucket_col>, shard,
    position)`` — ``shard`` the seeded hash shard inside the
    difficulty band, ``position`` the 0-based rank within ``(band,
    shard)`` by the seeded order key.  A reader walks ``difficulty``
    ascending and, inside a band, interleaves its ``num_shards``
    shard streams by ``position`` — fully deterministic, any engine
    replays every column (``hash_mode="md5"`` is engine-portable, the
    :func:`~dbldatagen_spark.functions.sampling.split_assign` trick).
    Rows whose score is NULL/NaN/+-inf get NULL for all three
    assignment columns (excluded from the curriculum, never dropped).

    Scale shape: bucketing shuffles only ``(group, bin)`` keys
    (histogram thresholds + broadcast assignment); the ordering pass
    is ONE shuffle keyed by ``(difficulty, shard)`` carrying ids and
    hashes — never text — and sharding inside each band is what keeps
    this off the one-task-per-band global sort (a 3-band corpus would
    otherwise sort ~1/3 of 100 TB in a single task; the
    :func:`length_bucket_batches` skew discipline).  ``num_shards``
    SIZES those per-band sort tasks: each ``(band, shard)`` cell
    sorts ``rows / (n_buckets * num_shards)`` narrow (id, hash) rows
    in one task, so size it to keep that quotient within a task
    (~10M rows is comfortable; a 10^11-row crawl at 3 bands wants
    ``num_shards`` in the 10^4+ range, NOT the local-test default).
    When ``num_shards`` is None the default is
    ``max(16, 4 * defaultParallelism)`` — parallelism-aware like
    :func:`~dbldatagen_spark.functions._parallel.ensure_parallelism`,
    but still a CLUSTER-WIDTH heuristic, not a data-size one: at
    crawl scale pass it explicitly from the row count.  The derived
    default therefore makes the DEFAULT-argument layout depend on
    the environment (two clusters of different width, or the same
    autoscaling cluster at two moments, derive different shard
    counts and hence different shard/position columns): the
    replayability contract below holds GIVEN ``(seed, num_shards,
    hash_mode)``, so pin ``num_shards`` explicitly whenever a layout
    must reproduce across environments — the registry fixture and
    every oracle do.  Invalid rows
    never enter the window: the valid and invalid branches both read
    the bucketed frame, so by default it is eagerly
    ``localCheckpoint``-ed rather than re-running score_buckets'
    histogram subtree once per branch — checkpoint blocks are freed
    by the ContextCleaner when the returned frame is garbage-collected
    (``docs/USAGE.md`` §9), unlike a ``persist()`` entry that would
    sit in the session's cache registry until an explicit
    ``unpersist`` (repeated calls in a long-lived session would
    accumulate storage entries).  The trade: lineage is truncated,
    so a lost executor fails the job instead of recomputing; pass
    ``cache=False`` to keep the operator fully stateless and
    lineage-recoverable (the minhash-signature cache precedent).
    """
    if num_shards is None:
        # parallelism-aware default (Connect-safe, like
        # ensure_parallelism): 4x the cluster width keeps per-cell
        # sorts small and evens out band-population skew; floor 16
        # preserves the original local-test behavior
        try:
            num_shards = max(
                16, 4 * int(df.sparkSession.sparkContext.defaultParallelism)
            )
        except Exception:
            num_shards = 16
    if num_shards < 1:
        raise ValueError(f"num_shards must be >= 1, got {num_shards}")
    added = {bucket_col, "shard", "position"}
    clashes = sorted(added & set(df.columns))
    if clashes:
        raise ValueError(
            f"curriculum_order: output column(s) {clashes} already "
            f"exist on the input — rename them or pass a different "
            f"bucket_col"
        )
    from dbldatagen_spark.functions.curation import score_buckets

    bucketed = score_buckets(
        df, id_col, score_col,
        group_col=group_col, n_buckets=n_buckets, n_bins=n_bins,
        bucket_col="_cb",
    )
    raw_bucket = F.col("_cb")
    # flip so difficulty 1 is ALWAYS the first band a curriculum
    # consumes: score_buckets' band 1 is the lowest scores
    band = (
        (F.lit(n_buckets + 1) - raw_bucket) if easy_high else raw_bucket
    )
    shard = hash_bucket(seed, id_col, num_shards, hash_mode)
    base = bucketed.select(
        F.col(id_col),
        band.cast("int").alias(bucket_col),
        F.when(raw_bucket.isNotNull(), shard).cast("long").alias("shard"),
        _order_key(id_col, seed + 1, hash_mode).alias("_ord"),
    )
    if cache:
        # eager local checkpoint, NOT persist: both branches below
        # read the materialized blocks, and the ContextCleaner frees
        # them once the returned frame is unreachable — a persist()
        # here would leak a cache-registry entry per call (see
        # docstring)
        base = base.localCheckpoint(eager=True)
    w = Window.partitionBy(bucket_col, "shard").orderBy(
        F.col("_ord"), F.col(id_col)
    )
    ranked = (
        base.where(F.col(bucket_col).isNotNull())
        .withColumn("position", F.row_number().over(w) - F.lit(1))
        .unionByName(
            base.where(F.col(bucket_col).isNull()).withColumn(
                "position", F.lit(None).cast("int")
            )
        )
    )
    return ranked.select(
        F.col(id_col), F.col(bucket_col),
        F.col("shard"), F.col("position").cast("long").alias("position"),
    )
