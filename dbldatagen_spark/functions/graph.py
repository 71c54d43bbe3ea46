"""Graph ranking over edge frames — the link-authority half of
web-corpus curation (host/page authority as a quality prior, the
classic Common Crawl ranking signal), complementing the component
CLUSTERING in :func:`~dbldatagen_spark.functions.dedup.duplicate_components`.

Reference parity: dbldatagen has no graph surface; this module is
beyond-reference, built for the LLM-pipeline side of the repo.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbldatagen_spark.functions import _materialize


def pagerank(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    *,
    weight_col: Optional[str] = None,
    damping_ppm: int = 850_000,
    iterations: int = 10,
    scale: int = 10**12,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """Deterministic FIXED-POINT PageRank over a directed edge frame
    (Brin & Page 1998) — rank mass carried as integer units so every
    engine, partitioning, and run replays the ranks BIT-FOR-BIT.
    Floating-point PageRank sums incoming contributions in shuffle
    arrival order, so the last ulp of every rank is
    partitioning-dependent; here all arithmetic is 64-bit integer
    (floor products and divisions, order-independent integer sums),
    which is what makes the op oracle-checkable and its output safe to
    join, rank, and threshold reproducibly.

    The exact recurrence (replay it anywhere):

    - ``N`` = number of distinct nodes (sources and destinations);
      without ``weight_col`` parallel edges collapse (``distinct``);
      with it they SUM their integer weights per (src, dst) and rows
      with NULL or non-positive weight are dropped like NULL
      endpoints.  Self-loops are kept.
    - ``u_0 = scale div N`` for every node.
    - each iteration: ``damped = (u * damping_ppm) div 1_000_000``;
      unweighted ``share = damped div out_degree`` per source;
      weighted, with ``W`` the source's total out-weight, the edge of
      weight ``w`` carries ``(damped div W) * w +
      ((damped mod W) * w) div W`` — algebraically exactly
      ``floor(damped * w / W)`` but computed without the 128-bit
      intermediate, so int64 replays it (a one-row aggregate riding
      iteration 1's plan checks ``max(W) * max(w) < 2^62`` and raises
      with re-scaling guidance instead of overflowing silently — see
      Errors below);
      ``u' = base + sum(shares arriving at the node)`` with
      ``base = ((scale div N) * (1_000_000 - damping_ppm)) div
      1_000_000``.

    Dangling nodes (no out-edges) receive and hold rank but emit none
    — their damped mass evaporates rather than being redistributed
    (the simple-variant contract; total mass therefore shrinks
    slightly each round, also by the floor truncations).  Rankings
    are unaffected for the curation use case; document-level
    consumers threshold or rank, not sum.

    Returns ``(node, rank_units, rank)`` — ``rank_units`` the exact
    integer state, ``rank = rank_units / scale`` as one IEEE division
    for human consumption.

    Scale shape: per iteration, ONE shuffle joins the (node, units)
    frame to the edge list on the source key and ONE
    map-side-combined integer sum aggregates arriving shares per
    destination — longs move, never payloads; a hub's fan-out is
    map-side row emission and its fan-in partially aggregates, so hot
    nodes never buffer.  Each iteration's frame is checkpointed so
    plan depth stays constant across iterations: ``localCheckpoint``
    by default, reliable under ``checkpoint_dir`` as
    :func:`~dbldatagen_spark.functions._materialize.checkpoint_dir`
    scopes it.  A superseded round is released once the next is
    materialized, and the edge and node checkpoints on return; only
    the returned frame's checkpoint stays.
    Driver cost: one count job up front plus one materializing action
    per iteration.

    Errors: invalid ``damping_ppm``/``iterations``/``scale`` raise
    ``ValueError`` before any Spark work.  The weighted headroom guard
    is an in-plan ``raise_error``: it fires while iteration 1's
    checkpoint materializes, which is still inside this call (every
    iteration checkpoints eagerly), and surfaces as a Spark error
    (``pyspark.errors.SparkRuntimeException``), not a ``ValueError``.
    """
    if not 0 <= damping_ppm <= 1_000_000:
        raise ValueError(
            f"damping_ppm must be in [0, 1000000], got {damping_ppm}"
        )
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    if scale > 9 * 10**12:
        # u * damping_ppm must stay inside int64: u <= total mass ~=
        # scale, and scale * 1e6 < 2^63 needs scale < ~9.2e12
        raise ValueError(
            f"scale must be <= 9e12 (int64 headroom for the ppm "
            f"product), got {scale}"
        )

    if weight_col is None:
        e = (
            edges.select(
                F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
            )
            .where(F.col("_s").isNotNull() & F.col("_d").isNotNull())
            .distinct()
        )
    else:
        e = (
            edges.select(
                F.col(src_col).alias("_s"),
                F.col(dst_col).alias("_d"),
                F.col(weight_col).cast("long").alias("_w"),
            )
            .where(
                F.col("_s").isNotNull()
                & F.col("_d").isNotNull()
                & (F.col("_w") > 0)
            )
            .groupBy("_s", "_d")
            .agg(F.sum("_w").alias("_w"))
        )
    # eager checkpoints the returned frame does not read, released when
    # the call ends, exceptions included
    held = []
    with _materialize.checkpoint_dir(edges.sparkSession, checkpoint_dir) as reliable:
        try:
            # checkpoint e FIRST and derive nodes from the truncated
            # lineage: defining nodes from the raw plan would re-execute
            # the entire upstream (e.g. host_authority's corpus scan)
            # twice more during nodes' own materialization, and the
            # duplicated expression trees in the fused stages can push
            # generated methods past the JVM's 64 KB codegen limit
            e = _materialize.checkpoint(e, reliable)
            held.append(e)
            nodes = _materialize.checkpoint(
                e.select(F.col("_s").alias("node"))
                .unionByName(e.select(F.col("_d").alias("node")))
                .distinct(),
                reliable,
            )
            held.append(nodes)
            n = nodes.count()
            if n == 0:
                held.pop()  # the result reads nodes
                return nodes.select(
                    F.col("node"),
                    F.lit(0).cast("long").alias("rank_units"),
                    F.lit(0.0).alias("rank"),
                )
            init_u = scale // n
            base = (init_u * (1_000_000 - damping_ppm)) // 1_000_000
            if weight_col is None:
                outdeg = e.groupBy("_s").agg(
                    F.count(F.lit(1)).cast("long").alias("_deg")
                )
            else:
                outdeg = e.groupBy("_s").agg(
                    F.sum("_w").cast("long").alias("_deg")
                )
                # the split share formula's second term is
                # (damped mod W) * w with (damped mod W) < W, so int64
                # safety needs max(W) * max(w) < 2^62.  The one-row
                # max aggregate rides iteration 1's own job as a lazy
                # broadcast-crossJoin (r16; was an eager join+aggregate
                # over the full edge set at construction), raising via
                # raise_error with the same conservative firing
                # condition, int64-safely rearranged: mw * w >= 2^62
                # <=> mw > (2^62 - 1) div w (w >= 1 — the edge filter
                # already dropped non-positive weights; NULL mw means an
                # empty edge set, where the WHEN falls through exactly
                # like the old `mw is None` skip)
                mxf = e.join(outdeg, "_s").agg(
                    F.max("_deg").alias("_mw"), F.max("_w").alias("_xw")
                )
                headroom_msg = F.concat_ws(
                    "",
                    F.lit("pagerank: max out-weight "),
                    F.col("_mw").cast("string"),
                    F.lit(" x max edge weight "),
                    F.col("_xw").cast("string"),
                    F.lit(
                        " leaves no int64 headroom for the weighted share"
                        " — divide the weights by a common factor (ranks"
                        " depend only on weight RATIOS per source) or"
                        " drop weight_col"
                    ),
                )
            ranks = nodes.select("node", F.lit(init_u).cast("long").alias("_u"))
            if weight_col is None:
                share_expr = F.expr(
                    f"(_u * {damping_ppm}) div 1000000 div _deg"
                )
                share_cols = [F.col("_s")]
            else:
                share_expr = F.expr(
                    f"(_u * {damping_ppm}) div 1000000"
                )
                share_cols = [F.col("_s"), F.col("_deg")]
            for it in range(iterations):
                damped_per_src = ranks.join(
                    outdeg, ranks["node"] == outdeg["_s"]
                ).select(*share_cols, share_expr.alias("_share"))
                if weight_col is None:
                    contribs = damped_per_src.join(e, "_s").select(
                        F.col("_d"), F.col("_share")
                    )
                else:
                    # exact floor(damped * w / W) without int128:
                    # (damped div W) * w + ((damped mod W) * w) div W
                    split_share = F.expr(
                        "(_share div _deg) * _w"
                        " + ((_share % _deg) * _w) div _deg"
                    )
                    joined = damped_per_src.join(e, "_s")
                    if it == 0:
                        # the headroom guard fires once, from iteration
                        # 1's own materializing action (the loop is eager
                        # per-iteration via the checkpoint), instead of a
                        # dedicated pre-pass job
                        joined = joined.crossJoin(F.broadcast(mxf))
                        split_share = F.when(
                            F.col("_mw")
                            > F.expr(f"{2**62 - 1}L div _xw"),
                            F.raise_error(headroom_msg).cast("long"),
                        ).otherwise(split_share)
                    contribs = joined.select(
                        F.col("_d"), split_share.alias("_share")
                    )
                shares = contribs.groupBy(F.col("_d").alias("node")).agg(
                    F.sum("_share").cast("long").alias("_in")
                )
                ranks = _materialize.checkpoint(
                    nodes.join(shares, "node", "left").select(
                        "node",
                        (
                            F.lit(base) + F.coalesce(F.col("_in"), F.lit(0))
                        ).cast("long").alias("_u"),
                    ),
                    reliable,
                )
                held.append(ranks)
                if it:  # this round is materialized: drop the one before
                    _materialize.release(held.pop(-2))
            held.pop()  # the result reads the last round
            return ranks.select(
                "node",
                F.col("_u").alias("rank_units"),
                (F.col("_u").cast("double") / F.lit(float(scale))).alias("rank"),
            )
        finally:
            for df in held:
                _materialize.release(df)


def host_authority(
    edges: DataFrame,
    src_url_col: str,
    dst_url_col: str,
    *,
    weight_col: Optional[str] = None,
    level: str = "host",
    keep_self_links: bool = False,
    damping_ppm: int = 850_000,
    iterations: int = 10,
    scale: int = 10**12,
    checkpoint_dir: Optional[str] = None,
    tracking_params=None,
    suffix_list=None,
) -> DataFrame:
    """Host-graph authority — the Common Crawl-style host-rank prior
    this module's docstring cites, composed end-to-end: extract the
    normalized host of both endpoint URLs (the
    :func:`~dbldatagen_spark.functions.curation.canonicalize_urls`
    host contract, via the aggregate-key-safe
    :func:`~dbldatagen_spark.functions.curation.url_host_expr`),
    collapse page-level links into a HOST-level weighted edge frame
    (weight = link multiplicity, or the sum of ``weight_col``), and
    rank hosts with the bit-exact weighted :func:`pagerank`.  The
    result is the per-host quality prior web-curation pipelines join
    onto documents before sampling (harmonic/PageRank host ranks in
    the Common Crawl ranking releases).

    ``level="host"`` ranks full hostnames (``blog.example.com`` and
    ``shop.example.com`` separately); ``level="domain"`` ranks
    PSL-style registrable domains (both collapse into
    ``example.com``) — the two granularities the public host-rank
    datasets publish.  URL canonicalization handles scheme, case,
    ``www.``, userinfo, ports, and trailing-dot noise, so
    ``HTTP://WWW.Example.COM/a`` and ``https://example.com/b`` link
    FROM the same host.  Rows whose src or dst host fails to parse
    are dropped (NULL host is never a graph node); self-links (same
    host on both ends — intra-site navigation, the dominant link
    type on the raw web) are dropped unless ``keep_self_links=True``,
    since a host voting for itself is exactly the self-promotion
    host-rank exists to discount.

    Returns ``(host, rank_units, rank)`` (column named ``domain``
    when ``level="domain"``) — ``rank_units`` the exact integer
    fixed-point state (replayable bit-for-bit on any engine, any
    partitioning), ``rank = rank_units / scale``.

    Scale shape: host extraction is map-only whole-stage-codegen
    regex work riding the scan, built on the LINEAR
    :func:`~dbldatagen_spark.functions.curation.url_host_expr` chain
    rather than slicing the host back out of the full canonical-URL
    tree — the canonical path evaluates ~20 regex/array ops per URL
    (path/query/domain work the host never needs) and duplicates
    them into the validity predicate; the compact chain measured
    ~1.7x faster on this scan (quiet host, warmed).  The ONLY
    payload-bearing shuffle is the
    ``(src_host, dst_host)`` partial aggregate — short host strings
    and long counts, never URLs or pages (a 100 TB crawl's trillions
    of page links reduce map-side to at most |hosts|^2 observed host
    pairs, in practice millions); the empty-host/self-link filters
    and, for ``level="domain"``, the PSL domain mapping plus a second
    aggregate all run on that HOST-level frame, corpus-size-
    independent; :func:`pagerank` then moves longs only, one
    source-keyed join plus one map-side-combined integer sum per
    iteration.  The eager int64-headroom guard inside
    :func:`pagerank` validates ``max(host out-weight) x max(edge
    weight)`` before iterating — at crawl scale prefer
    ``weight_col`` values pre-divided to link counts, not byte
    counts.

    ``tracking_params`` is accepted for signature compatibility with
    :func:`~dbldatagen_spark.functions.curation.canonicalize_urls`
    and ignored — query strings never affect the host.
    ``suffix_list`` feeds the ``level="domain"`` collapse a real
    Public Suffix List snapshot (see :func:`~dbldatagen_spark
    .functions.curation.registrable_domain_expr` for the entry
    format) — the built-in default is a 44-entry subset, and on a
    real crawl any suffix it lacks (``com.pl``, ``co.th``, ...)
    merges unrelated registrants under one node; ignored at
    ``level="host"``.
    """
    if level not in ("host", "domain"):
        raise ValueError(f"level must be host|domain, got {level!r}")
    from dbldatagen_spark.functions.curation import (
        registrable_domain_expr,
        url_host_expr,
    )

    out_node = "host" if level == "host" else "domain"
    h = edges.select(
        url_host_expr(F.col(src_url_col)).alias("_sh"),
        url_host_expr(F.col(dst_url_col)).alias("_dh"),
        *(
            [F.col(weight_col).cast("long").alias("_w")]
            if weight_col is not None
            else []
        ),
    )
    if weight_col is None:
        agg = h.groupBy("_sh", "_dh").agg(
            F.count(F.lit(1)).cast("long").alias("_hw")
        )
    else:
        # the weight predicate reads only the raw weight column (no
        # regex), so it stays a cheap pushed-down scan filter
        agg = h.where(F.col("_w") > 0).groupBy("_sh", "_dh").agg(
            F.sum("_w").cast("long").alias("_hw")
        )
    # Persist the host-pair aggregate: a PUSHDOWN BARRIER, not a
    # speed cache.  Every downstream predicate on the host keys (the
    # validity/self-link filters below, pagerank's own NULL-endpoint
    # filter) would otherwise push below the aggregate and inline
    # full copies of the host regex chain into the corpus-scan
    # stage's filter — measured here to push the fused stage past the
    # JVM's 64 KB codegen limit into interpreted fallback.  The cache
    # boundary stops predicate substitution, so the corpus stage
    # stays Project(2 host chains) + partial aggregate.  Bounded:
    # the frame is |observed host pairs| (millions at crawl scale,
    # never corpus-sized), and it is released in the finally below —
    # pagerank materializes its checkpoints eagerly, so the returned
    # frame no longer reads the cache (the minhash_cluster_dedup
    # persist-lifecycle precedent).
    pairs = agg.persist()
    try:
        # host-validity and self-link filters run POST-aggregation
        # over the cached host-pair frame: corpus-size-independent,
        # and the barrier keeps them out of the corpus stage
        agg = pairs.where(
            F.col("_sh").isNotNull() & F.col("_dh").isNotNull()
        )
        if level == "domain":
            agg = (
                agg.select(
                    registrable_domain_expr(
                        F.col("_sh"), suffix_list=suffix_list
                    ).alias("_sh"),
                    registrable_domain_expr(
                        F.col("_dh"), suffix_list=suffix_list
                    ).alias("_dh"),
                    "_hw",
                )
                .groupBy("_sh", "_dh")
                .agg(F.sum("_hw").cast("long").alias("_hw"))
            )
        if not keep_self_links:
            agg = agg.where(F.col("_sh") != F.col("_dh"))
        ranked = pagerank(
            agg, "_sh", "_dh", weight_col="_hw",
            damping_ppm=damping_ppm, iterations=iterations, scale=scale,
            checkpoint_dir=checkpoint_dir,
        )
    finally:
        pairs.unpersist()
    return ranked.select(
        F.col("node").alias(out_node), "rank_units", "rank"
    )


def anchor_text_profile(
    links: DataFrame,
    src_url_col: str,
    dst_url_col: str,
    anchor_col: str,
    *,
    keep_self_links: bool = False,
    min_links: int = 1,
    level: str = "host",
    suffix_list=None,
) -> DataFrame:
    """Anchor-text profile per TARGET host — the other classic web-
    graph curation signal next to :func:`host_authority`: what the
    rest of the web calls a site is high-precision relevance text
    for it (the anchor-text prior of classical web IR), and hosts
    whose in-links all carry one templated anchor are link-farm
    suspects the profile exposes.

    ``level="host"`` profiles full hostnames; ``level="domain"``
    profiles PSL-style registrable domains (``blog.example.com`` and
    ``shop.example.com`` collapse into one ``example.com`` profile)
    — the same two granularities :func:`host_authority` ranks, with
    ``suffix_list`` feeding a real Public Suffix List snapshot to
    the collapse (:func:`~dbldatagen_spark.functions.curation
    .registrable_domain_expr` entry format).  At domain level the
    output key column is ``domain`` and the referrer count is
    ``referring_domains`` (distinct registrable SOURCE domains), and
    ``keep_self_links=False`` drops intra-DOMAIN links — a subdomain
    anchoring its sibling is the same self-promotion a host-level
    self-link is.

    Per target host (rows with a NULL/invalid host on either end or
    an empty anchor are dropped; self-links too unless
    ``keep_self_links``):

    - ``in_links`` — anchor-bearing links pointing at the host
    - ``referring_hosts`` — DISTINCT source hosts linking to it
      (the farm detector: thousands of in-links from three hosts)
    - ``unique_anchors`` — distinct normalized anchor strings
    - ``top_anchor`` / ``top_anchor_links`` — the most frequent
      normalized anchor and its link count, ties broken by the
      lexicographically SMALLEST anchor so the row is deterministic
      under any partitioning

    Anchor normalization: lowercase, trim, internal whitespace runs
    collapsed to one space ("  Example\\tSite " == "example site").

    ``min_links`` keeps only hosts with at least that many in-links —
    a predicate on an AGGREGATED column, so it can never push below
    the aggregate into the corpus scan.

    Scale shape: two corpus passes, each one map-side-combined
    partial aggregate — ``(dst_host, anchor)`` counts and
    ``(dst_host, src_host)`` pairs — so the corpus-keyed shuffles
    carry short host strings, normalized anchors, and longs, never
    documents; a hot host (every corpus links to wikipedia.org)
    splits across map tasks in both passes because the key includes
    the anchor / source host, and the per-host rollups that follow
    run on aggregated frames bounded by |host, anchor| and
    |host, host| pairs, not corpus rows.  The final assembly is one
    join of two host-level frames (large-large at crawl scale:
    sort-merge is the right plan, and both sides are already
    host-keyed).  NULL-host/empty-anchor filtering runs on the
    PROJECTED single-reference host chains
    (:func:`~dbldatagen_spark.functions.curation.url_host_expr`)
    before the aggregates — the pushed-down predicates stay within
    the JVM codegen method limit precisely because the chain is
    linear (see url_host_expr's contract).

    Deterministic and SQL-replayable: counts are exact longs, the
    top anchor is an argmin over ``(-count, anchor)`` structs, so
    every cell replays on any engine.

    Domain-level scale shape: ONE corpus pass — a map-side-combined
    ``(src_host, dst_host, anchor)`` count aggregate (the key still
    splits hot hosts across map tasks) — eagerly
    ``localCheckpoint``-ed: the host->domain map derives from its
    DISTINCT host set and both rollups re-read it, so without the
    materialization barrier Catalyst would re-execute the corpus
    aggregate once per consumer (the fold-double-scan hazard the
    allocation functions fixed the same way).  The PSL collapse
    (:func:`registrable_domain_expr`, a ~10k-entry array probe with
    a real snapshot) therefore runs over host-cardinality rows,
    never corpus rows, and the domain map joins back onto the
    bounded triple frame — AQE broadcasts it when the host set is
    small.  The intra-domain self-link filter runs on the mapped
    triple frame, corpus-size-independent.
    """
    if min_links < 1:
        raise ValueError(f"min_links must be >= 1, got {min_links}")
    if level not in ("host", "domain"):
        raise ValueError(f"level must be host|domain, got {level!r}")
    from dbldatagen_spark.functions.curation import url_host_expr

    # collapse BEFORE trimming: F.trim strips only spaces (0x20), so
    # trim-first would leave a trailing tab/newline as a trailing
    # space after the collapse ("shop blog\t" -> "shop blog "),
    # splitting counts, and an all-tab anchor would survive the
    # blank-drop as " ".  Collapse-then-trim equals strip-all-
    # whitespace-then-collapse.  (Deliberately NOT dedup's
    # normalize_text_expr: that trim-first form is the established
    # hash-canonical contract existing dedup oracles replay.)
    norm = F.nullif(
        F.trim(F.regexp_replace(F.lower(F.col(anchor_col)), r"\s+", " ")),
        F.lit(""),
    )
    h = links.select(
        url_host_expr(F.col(src_url_col)).alias("_sh"),
        url_host_expr(F.col(dst_url_col)).alias("_dh"),
        norm.alias("_a"),
    ).where(
        F.col("_sh").isNotNull()
        & F.col("_dh").isNotNull()
        & F.col("_a").isNotNull()
    )
    if level == "domain":
        from dbldatagen_spark.functions.curation import (
            registrable_domain_expr,
        )

        # one corpus pass; host self-links are NOT pre-filtered here —
        # blog.example.com -> example.com is an intra-domain link only
        # the mapped filter below can see
        triples = h.groupBy("_sh", "_dh", "_a").agg(
            F.count(F.lit(1)).cast("long").alias("_c")
        )
        # eager localCheckpoint: the host->domain map below derives
        # from this frame's distinct hosts and both rollups re-read
        # it — without the barrier Catalyst re-executes the corpus
        # aggregate once per consumer (three full scans; the
        # fold-double-scan hazard).  Bounded: |host-pair x anchor|
        # triples, never corpus rows; freed by the ContextCleaner.
        triples = triples.localCheckpoint(eager=True)
        # the map feeds BOTH endpoint joins below — materialize it
        # once (host-cardinality rows) or its union-distinct + PSL
        # probe executes twice, once per join
        hmap = (
            triples.select(F.col("_sh").alias("_h"))
            .union(triples.select(F.col("_dh").alias("_h")))
            .distinct()
            .select(
                "_h",
                registrable_domain_expr(
                    F.col("_h"), suffix_list=suffix_list
                ).alias("_d"),
            )
            .localCheckpoint(eager=True)
        )
        t = (
            triples.join(
                hmap.select(
                    F.col("_h").alias("_sh"), F.col("_d").alias("_sd")
                ),
                "_sh",
            )
            .join(
                hmap.select(
                    F.col("_h").alias("_dh"), F.col("_d").alias("_dd")
                ),
                "_dh",
            )
            .select("_sd", "_dd", "_a", "_c")
        )
        if not keep_self_links:
            t = t.where(F.col("_sd") != F.col("_dd"))
        pa = t.groupBy("_dd", "_a").agg(
            F.sum("_c").cast("long").alias("_c")
        )
        prof = pa.groupBy("_dd").agg(
            F.sum("_c").cast("long").alias("in_links"),
            F.count(F.lit(1)).cast("long").alias("unique_anchors"),
            F.min(
                F.struct((-F.col("_c")).alias("_nc"), F.col("_a"))
            ).alias("_top"),
        )
        refs = (
            t.groupBy("_dd", "_sd")
            .agg(F.count(F.lit(1)).alias("_n"))
            .groupBy("_dd")
            .agg(F.count(F.lit(1)).cast("long").alias("referring_domains"))
        )
        return (
            prof.join(refs, "_dd")
            .where(F.col("in_links") >= min_links)
            .select(
                F.col("_dd").alias("domain"),
                "in_links",
                "referring_domains",
                "unique_anchors",
                F.col("_top._a").alias("top_anchor"),
                (-F.col("_top._nc")).cast("long").alias("top_anchor_links"),
            )
        )

    if not keep_self_links:
        h = h.where(F.col("_sh") != F.col("_dh"))

    # pass 1: (host, anchor) counts -> per-host rollup + argmin top
    pa = h.groupBy("_dh", "_a").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    prof = pa.groupBy("_dh").agg(
        F.sum("_c").cast("long").alias("in_links"),
        F.count(F.lit(1)).cast("long").alias("unique_anchors"),
        F.min(F.struct((-F.col("_c")).alias("_nc"), F.col("_a"))).alias(
            "_top"
        ),
    )
    # pass 2: distinct referring hosts via two-level aggregation
    refs = (
        h.groupBy("_dh", "_sh")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy("_dh")
        .agg(F.count(F.lit(1)).cast("long").alias("referring_hosts"))
    )
    out = (
        prof.join(refs, "_dh")
        .where(F.col("in_links") >= min_links)
        .select(
            F.col("_dh").alias("host"),
            "in_links",
            "referring_hosts",
            "unique_anchors",
            F.col("_top._a").alias("top_anchor"),
            (-F.col("_top._nc")).cast("long").alias("top_anchor_links"),
        )
    )
    return out
