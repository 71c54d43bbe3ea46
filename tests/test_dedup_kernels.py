"""Label propagation (``duplicate_components``) and the MinHash band-key
expressions shared by the LSH dedup operators: results against a
union-find reference, Spark job budget, release of checkpoints, and
golden signature/band-key values."""

import random

import pytest

from dbldatagen_spark.functions import dedup as dedup_mod
from dbldatagen_spark.functions.dedup import duplicate_components


def _persisted_ids(spark):
    jsc = spark.sparkContext._jsc
    return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}


def _union_find_components(pairs):
    parent = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def _random_graph(seed):
    """Disjoint shapes over shuffled ids: chains, stars, cliques and
    random sparse pieces, plus duplicate pairs, reversed pairs and
    self-loops."""
    rng = random.Random(seed)
    ids = rng.sample(range(1, 10_000), 400)
    pos = 0

    def take(n):
        nonlocal pos
        out = ids[pos:pos + n]
        pos += n
        return out

    pairs = []
    for _ in range(2):  # long chains
        c = take(rng.randint(30, 60))
        pairs += list(zip(c, c[1:]))
    for _ in range(3):  # stars
        hub, *leaves = take(rng.randint(5, 15))
        pairs += [(hub, v) for v in leaves]
    for _ in range(4):  # cliques
        c = take(rng.randint(2, 5))
        pairs += [(a, b) for i, a in enumerate(c) for b in c[i + 1:]]
    for _ in range(3):  # random sparse pieces
        c = take(rng.randint(5, 20))
        pairs += [(rng.choice(c), rng.choice(c)) for _ in range(len(c) * 2)]
    pairs += rng.sample(pairs, 10)  # duplicates
    pairs += [(b, a) for a, b in rng.sample(pairs, 10)]  # reversed
    pairs += [(v, v) for v in take(3)]  # isolated self-loops
    rng.shuffle(pairs)
    return pairs


@pytest.mark.parametrize("partitions", [1, 7])
@pytest.mark.parametrize("reliable", [False, True])
def test_duplicate_components_matches_union_find(
    spark, tmp_path, partitions, reliable
):
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        for seed in (1, 2):
            pairs = _random_graph(seed)
            df = spark.createDataFrame(pairs, "id_a long, id_b long")
            ckpt = str(tmp_path / f"ckpt{seed}") if reliable else None
            got = {
                r["vertex"]: r["component"]
                for r in duplicate_components(df, checkpoint_dir=ckpt).collect()
            }
            assert got == _union_find_components(pairs), f"seed {seed}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_duplicate_components_job_budget(spark):
    """Clique-shaped clusters are labelled final by the initial hop, so
    one confirming round runs: 50 disjoint 3-cliques, construction plus
    collect, fit in 14 Spark jobs (28 before the initial hop and the
    pointer jump through the materialized labels)."""
    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(3 * c + a, 3 * c + b) for c in range(50) for a, b in ((0, 1), (1, 2), (0, 2))],
        "id_a long, id_b long",
    )
    tag = "test_duplicate_components_job_budget"
    sc.addJobTag(tag)
    try:
        rows = duplicate_components(pairs).collect()
    finally:
        sc.removeJobTag(tag)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    jobs = sc._jsc.sc().statusTracker().getJobIdsForTag(tag)
    assert {(r["vertex"], r["component"]) for r in rows} == {
        (3 * c + i, 3 * c) for c in range(50) for i in range(3)
    }
    assert len(jobs) <= 14, f"{len(jobs)} jobs"


def test_duplicate_components_releases_round_checkpoints(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    before = _persisted_ids(spark)
    rows = duplicate_components(pairs).collect()
    assert {r["component"] for r in rows} == {0}
    # only the returned frame's checkpoint may stay
    assert len(_persisted_ids(spark) - before) <= 1


def test_duplicate_components_releases_on_error(spark, monkeypatch):
    calls = []
    real = dedup_mod._checkpoint

    def failing(df, reliable):
        calls.append(1)
        if len(calls) == 3:  # initial labels, round 1, then round 2
            raise RuntimeError("checkpoint failed")
        return real(df, reliable)

    monkeypatch.setattr(dedup_mod, "_checkpoint", failing)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    before = _persisted_ids(spark)
    with pytest.raises(RuntimeError, match="checkpoint failed"):
        duplicate_components(pairs)
    assert len(calls) == 3
    assert _persisted_ids(spark) - before == set()


# Recorded from the Column-API signature/band-key construction the
# parsed expressions replaced; any drift would move every LSH bucket.
_GOLDEN_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox leaps over the lazy cat"),
    (3, "tiny doc"),  # shorter than k=3 words
]
_GOLDEN = {
    (8, 4): {
        1: ([-9053602449853087917, -6905139042814342825, -8077143673405436791,
             -5570381449982887184, -8535855447406379817, -8120491046000627915,
             -423224121803500710, -6645891898391326741],
            [742019668844480819, 7668632494608258751, -3092262293007791884,
             -4553550849517387740]),
        2: ([-3037569928162123360, -2291498269711474151, -8077143673405436791,
             -2205226205929179611, -8719356399799211993, -7066190308204096751,
             -4487865258868418701, -9022975869805989052],
            [-3669911516606336233, -1360173430359182166, -5184160696104867854,
             -5727655840927701047]),
        3: ([-3028138419861766601, -7942698437992526373, 4495220995532860535,
             5426772641035366865, 1091719172069813859, -2154548820851582629,
             719197084409353407, -3864596818138707739],
            [448430524677314016, -7773478133206813076, -8509124829191507214,
             -4239157866637885848]),
    },
    (6, 6): {
        1: ([-9053602449853087917, -6905139042814342825, -8077143673405436791,
             -5570381449982887184, -8535855447406379817, -8120491046000627915],
            [7769488875857505620, 5021380043812970151, 826547603427499014,
             8629867991113185422, -2204116804308695096, -7442708364500541669]),
        2: ([-3037569928162123360, -2291498269711474151, -8077143673405436791,
             -2205226205929179611, -8719356399799211993, -7066190308204096751],
            [-9014709682964791353, 3574914180237114646, 826547603427499014,
             452055998022631125, -1091609174645190452, -7225316674916291718]),
        3: ([-3028138419861766601, -7942698437992526373, 4495220995532860535,
             5426772641035366865, 1091719172069813859, -2154548820851582629],
            [-248604810229869092, -1628238680738373185, 8584357114566946180,
             -966878940176960197, 8930829884239193850, 4062426219471995404]),
    },
}


@pytest.mark.parametrize("ansi", ["false", "true"])
@pytest.mark.parametrize("num_hashes,bands", sorted(_GOLDEN))
def test_minhash_band_exprs_golden(spark, ansi, num_hashes, bands):
    docs = spark.createDataFrame(_GOLDEN_DOCS, "doc_id long, text string")
    hashed = dedup_mod._hashed_shingles(docs, "doc_id", "text", 3, "doc_id", "_shash")
    sig, band_keys = dedup_mod._minhash_band_exprs("_shash", num_hashes, bands)
    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        rows = (
            hashed.select("doc_id", sig)
            .select("doc_id", "_sig", band_keys.alias("_keys"))
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)
    got = {r["doc_id"]: (list(r["_sig"]), list(r["_keys"])) for r in rows}
    assert got == _GOLDEN[(num_hashes, bands)]
