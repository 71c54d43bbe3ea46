"""Label propagation (``duplicate_components``) and the MinHash band-key
expressions shared by the LSH dedup operators: results against a
union-find reference, empty input, Spark job budget, release of
checkpoints, and golden signature/band-key values.  The pair family on the shared
``_self_pairs``/``_shingle_overlap`` kernels: golden output digests and
Exchange counts, golden SimHash values, the banded SimHash search
against brute force, and cache release in ``minhash_cluster_dedup``."""

import contextlib
import hashlib
import random
import re
import signal

import pytest

from dbldatagen_spark.functions import _materialize
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
    collect, fit in 10 Spark jobs (9 measured).  History: 28 before the
    initial hop and the pointer jump through the materialized labels,
    then 11 while a probe job tested each round for convergence."""
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
    assert len(jobs) <= 10, f"{len(jobs)} jobs"


def test_duplicate_components_runs_no_probe_job(spark, monkeypatch):
    """Convergence is read off each round's checkpoint job: every eager
    job of the build runs inside a checkpoint call."""
    sc = spark.sparkContext
    real = _materialize.checkpoint

    def tagged(df, reliable):
        sc.addJobTag("checkpoint")
        try:
            return real(df, reliable)
        finally:
            sc.removeJobTag("checkpoint")

    monkeypatch.setattr(_materialize, "checkpoint", tagged)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    sc.addJobTag("build")
    try:
        comps = duplicate_components(pairs)
    finally:
        sc.removeJobTag("build")
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    tracker = sc._jsc.sc().statusTracker()
    build = set(tracker.getJobIdsForTag("build"))
    assert build and build <= set(tracker.getJobIdsForTag("checkpoint"))
    assert {r["component"] for r in comps.collect()} == {0}


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
    real = _materialize.checkpoint

    def failing(df, reliable):
        calls.append(1)
        if len(calls) == 3:  # initial labels, round 1, then round 2
            raise RuntimeError("checkpoint failed")
        return real(df, reliable)

    monkeypatch.setattr(_materialize, "checkpoint", failing)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    before = _persisted_ids(spark)
    with pytest.raises(RuntimeError, match="checkpoint failed"):
        duplicate_components(pairs)
    assert len(calls) == 3
    assert _persisted_ids(spark) - before == set()


@contextlib.contextmanager
def _deadline(seconds):
    """Fail instead of hanging: a round whose observed metric never
    arrives would block ``Observation.get`` forever."""

    def expire(signum, frame):
        raise TimeoutError(f"no result within {seconds} s")

    prior = signal.signal(signal.SIGALRM, expire)
    signal.alarm(seconds)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, prior)


def test_duplicate_components_of_no_pairs(spark, tmp_path):
    """No pairs, the input of every corpus without near-duplicates: each
    round's convergence count still arrives, with adaptive execution on
    and off, over local and reliable checkpoints."""
    empty = spark.createDataFrame([], "id_a long, id_b long")
    prior = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        for aqe in ("true", "false"):
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            for ckpt in (None, str(tmp_path / f"ckpt_{aqe}")):
                with _deadline(120):
                    assert duplicate_components(empty, checkpoint_dir=ckpt).collect() == []
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prior)


def test_minhash_cluster_dedup_without_duplicates(spark, monkeypatch):
    """A corpus of distinct documents leaves no star edge: every document
    is its own canonical id."""
    seen = []
    real = dedup_mod.duplicate_components

    def recording(pairs, *args, **kwargs):
        seen.append(pairs.count())
        return real(pairs, *args, **kwargs)

    monkeypatch.setattr(dedup_mod, "duplicate_components", recording)
    rng = random.Random(7)
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{rng.randrange(10**6)}" for _ in range(12))) for i in range(30)],
        "id long, text string",
    )
    with _deadline(120):
        rows = dedup_mod.minhash_cluster_dedup(docs, "id", "text").collect()
    assert seen == [0]
    assert sorted((r["id"], r["canonical_id"]) for r in rows) == [(i, i) for i in range(30)]


def test_kernels_ignore_escaped_string_literals(spark):
    """The kernels' SQL text holds no backslash escape, so the parser's
    escaped-literal mode leaves their whitespace regex as it is."""
    docs = spark.createDataFrame(
        [(1, "a\tb  c"), (2, "a b c"), (3, " A\nb c "), (4, "a\\sb c")],
        "doc_id long, text string",
    )

    def run():
        return (
            sorted(tuple(r) for r in dedup_mod.exact_dedup(docs, "doc_id", "text").collect()),
            sorted(tuple(r) for r in dedup_mod.shingled_df(docs, "doc_id", "text", 2).collect()),
        )

    want = run()
    assert want[0] == [(1, 3), (4, 1)]
    key = "spark.sql.parser.escapedStringLiterals"
    prior = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        assert run() == want
    finally:
        spark.conf.set(key, prior)


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


def test_word_shingles_expr_matches_shingled_df(spark):
    """The ``Column`` helper and the SQL text of the batch operators build
    the same shingle arrays."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        _GOLDEN_DOCS + [(4, "  padded   words here  "), (5, "")],
        "doc_id long, text string",
    )
    for k in (1, 3):
        got = dict(
            docs.select("doc_id", dedup_mod.word_shingles_expr(F.col("text"), k))
            .collect()
        )
        want = dict(dedup_mod.shingled_df(docs, "doc_id", "text", k).collect())
        assert got == want, k


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
            hashed.selectExpr("doc_id", f"{sig} AS _sig")
            .selectExpr("doc_id", "_sig", f"{band_keys} AS _keys")
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)
    got = {r["doc_id"]: (list(r["_sig"]), list(r["_keys"])) for r in rows}
    assert got == _GOLDEN[(num_hashes, bands)]


# ---------------------------------------------------------------------------
# The pair family: every operator built on the equi-self-join with
# id_a < id_b, pinned by an order-insensitive fingerprint of its output and
# the Exchange count of its executed plan.

_WORDS = [f"{a}{b}" for a in "bcdfghklmnprstvz" for b in ("a", "e", "io", "u")]
_BOILERPLATE = "all rights reserved by the original publisher"


def _pair_docs(spark):
    """Seeded corpus with planted structure: near-copies (1-2 word edits),
    exact copies, contained slices, a boilerplate prefix shared by at
    least 15 docs (above a posting cut of 5; three of them are
    boilerplate plus one word, so their pairs block only through the
    cut postings) and texts shorter than k words."""
    rng = random.Random(17)
    texts = [
        " ".join(rng.choice(_WORDS) for _ in range(rng.randint(12, 30)))
        for _ in range(40)
    ]
    texts[:12] = [f"{_BOILERPLATE} {t}" for t in texts[:12]]
    for src in rng.sample(range(40), 15):
        words = texts[src].split()
        for _ in range(rng.randint(1, 2)):
            words[rng.randrange(len(words))] = rng.choice(_WORDS)
        texts.append(" ".join(words))
    texts += [texts[i] for i in rng.sample(range(40), 3)]
    for src in rng.sample(range(40), 6):
        words = texts[src].split()
        lo = rng.randrange(len(words) - 8)
        texts.append(" ".join(words[lo:lo + rng.randint(8, 12)]))
    texts += [f"{_BOILERPLATE} {rng.choice(_WORDS)}" for _ in range(3)]
    texts += ["hello world", "hello world", "solo"]
    ids = rng.sample(range(1, 10_000), len(texts))
    return spark.createDataFrame(list(zip(ids, texts)), "doc_id long, text string")


def _pair_vectors(spark):
    """64-dim float vectors: 45 random, 12 perturbed copies, 2 exact
    copies and one zero vector."""
    rng = random.Random(23)
    vecs = [[rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(45)]
    vecs += [
        [x + rng.gauss(0.0, 0.05) for x in vecs[i]] for i in rng.sample(range(45), 12)
    ]
    vecs += [list(vecs[i]) for i in rng.sample(range(45), 2)]
    vecs.append([0.0] * 64)
    ids = rng.sample(range(1, 10_000), len(vecs))
    return spark.createDataFrame(
        list(zip(ids, vecs)), "vec_id long, embedding array<float>"
    )


def _pair_names(spark):
    """Customer names with planted typos and case/space variants."""
    rng = random.Random(29)
    first = ["maria", "john", "mario", "joan", "robert", "roberta", "anna",
             "annabel", "peter", "petra", "michael", "michelle"]
    last = ["smith", "smyth", "jones", "johnson", "garcia", "garcias",
            "miller", "muller", "brown", "browne"]
    names = [f"{rng.choice(first)} {rng.choice(last)}" for _ in range(50)]
    for src in rng.sample(range(50), 15):
        chars = list(names[src])
        for _ in range(rng.randint(1, 3)):
            chars[rng.randrange(4, len(chars))] = rng.choice("aeiouxyz")
        names.append("".join(chars))
    names += [f"  {n.upper()} " for n in rng.sample(names[:50], 5)]
    ids = rng.sample(range(1, 10_000), len(names))
    return spark.createDataFrame(list(zip(ids, names)), "cust_id long, name string")


def _pair_signatures(spark):
    """Signed 64-bit signatures: 40 random, 20 copies with 0-5 bits
    flipped."""
    rng = random.Random(31)

    def signed(u):
        return u - (1 << 64) if u >= 1 << 63 else u

    sigs = [rng.getrandbits(64) for _ in range(40)]
    for src in rng.sample(range(40), 20):
        s = sigs[src]
        for bit in rng.sample(range(64), rng.randint(0, 5)):
            s ^= 1 << bit
        sigs.append(s)
    ids = rng.sample(range(1, 10_000), len(sigs))
    return spark.createDataFrame(
        [(i, signed(s)) for i, s in zip(ids, sigs)], "id long, sig long"
    )


def _pair_ops(spark):
    d = dedup_mod
    docs = _pair_docs(spark)
    vecs = _pair_vectors(spark)
    names = _pair_names(spark)
    sigs = _pair_signatures(spark)
    ops = {}
    for cut in (None, 1000, 5):
        ops[f"jaccard_cut{cut}"] = lambda cut=cut: d.ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.3, max_posting_len=cut
        )
        ops[f"containment_cut{cut}"] = lambda cut=cut: d.containment_pairs(
            docs, "doc_id", "text", threshold=0.5, max_posting_len=cut
        )
    ops["containment_sketch"] = lambda: d.containment_sketch_pairs(
        docs, "doc_id", "text", sketch_k=8, threshold=0.5
    )
    ops["minhash_32_16"] = lambda: d.minhash_near_duplicates(
        docs, "doc_id", "text", num_hashes=32, bands=16, threshold=0.5
    )
    for mode in ("xxhash64", "md5"):
        ops[f"simhash_{mode}"] = lambda mode=mode: d.simhash_signatures(
            docs, "doc_id", "text", token_hash=mode
        )
    ops["simhash_near_duplicates"] = lambda: d.simhash_near_duplicates(
        docs, "doc_id", "text"
    )
    ops["hamming"] = lambda: d.hamming_near_duplicates(
        sigs, "id", "sig", max_hamming=3, bands=4
    )
    ops["fuzzy"] = lambda: d.fuzzy_match_records(names, "cust_id", "name")
    ops["semantic"] = lambda: d.semantic_dedup(
        vecs, "vec_id", "embedding", threshold=0.9, method="lsh", num_planes=4
    )
    ops["embedding_bucketed"] = lambda: d.embedding_near_duplicates(
        vecs, "vec_id", "embedding", threshold=0.9, num_planes=8
    )
    return ops


_EXCHANGE_NODE = re.compile(r"^[\s:+\-]*(?:\*\(\d+\)\s*)?\w*Exchange\b", re.M)


def _fingerprint(df):
    """``(rows, sha256 prefix)``: an order-insensitive digest of the
    collected rows."""
    rows = df.collect()
    digest = hashlib.sha256(
        repr(sorted(tuple(r) for r in rows)).encode()
    ).hexdigest()[:16]
    return len(rows), digest


def _exchanges(df):
    """Exchange nodes in the executed plan.  Read with adaptive execution
    off: an adaptive final plan depends on the order in which query
    stages finish, so its node count is not repeatable."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_EXCHANGE_NODE.findall(plan))


# Recorded from the operators' earlier hand-written self-joins: row count,
# order-insensitive digest and executed-plan Exchange count, identical at
# 2 and 7 shuffle partitions with ANSI off and on.
_PAIR_GOLDEN = {
    "jaccard_cutNone": (29, "48b882a573805c25", 7),
    "containment_cutNone": (82, "875d195e4bcf653f", 7),
    "jaccard_cut1000": (29, "48b882a573805c25", 9),
    "containment_cut1000": (82, "875d195e4bcf653f", 9),
    "jaccard_cut5": (26, "c3e65a23f04309e0", 9),
    "containment_cut5": (29, "f03bc9f61c5f0e35", 9),
    "containment_sketch": (136, "5f269738e172c0f2", 10),
    "minhash_32_16": (23, "9750de252716d1ea", 7),
    "simhash_xxhash64": (70, "2e69e6bfa326e9bf", 0),
    "simhash_md5": (70, "5e37f0dc622eb3c0", 0),
    "simhash_near_duplicates": (9, "8defeb1ff88a7774", 3),
    "hamming": (14, "34a0f0e7adcf66e9", 3),
    "fuzzy": (53, "8663c3ae579c4e1e", 2),
    "semantic": (60, "8408022a40bb671a", 4),
    "embedding_bucketed": (15, "e812cdcc58731022", 3),
}


@pytest.mark.parametrize("ansi", ["false", "true"])
@pytest.mark.parametrize("partitions", ["2", "7"])
def test_pair_family_golden(spark, partitions, ansi):
    keys = ("spark.sql.shuffle.partitions", "spark.sql.ansi.enabled",
            "spark.sql.adaptive.enabled")
    prior = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.shuffle.partitions", partitions)
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    got = {}
    try:
        for name, op in _pair_ops(spark).items():
            # cached frames from an earlier op carry size statistics that
            # can change join planning; start each op from an empty cache
            spark.catalog.clearCache()
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            df = op()
            got[name] = (*_fingerprint(df), _exchanges(df))
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            assert _fingerprint(op()) == got[name][:2], name
    finally:
        spark.catalog.clearCache()
        for k, v in prior.items():
            spark.conf.set(k, v)
    assert got == _PAIR_GOLDEN


_LAMBDA_VAR = re.compile(r"lambda \w+#")


def _plan_digest(df):
    """sha256 prefix of the optimized plan: the analyzed plan run through
    the optimizer (without the cache substitution that would print
    whichever call first filled a cache entry), every field printed.
    Expression ids, plan ids and lambda variable names (``x_12`` from
    the ``Column`` API, ``x`` from SQL text) are masked: they depend on
    what the session built before, not on the plan."""
    jspark = df.sparkSession._jsparkSession
    analyzed = df._jdf.queryExecution().analyzed().clone()
    plan = jspark.sessionState().optimizer().execute(analyzed).toString()
    plan = re.sub(r"plan_id=\d+", "plan_id=", re.sub(r"#\d+L?", "#", plan))
    plan = _LAMBDA_VAR.sub("lambda v#", plan)
    return hashlib.sha256(plan.encode()).hexdigest()[:16]


@pytest.fixture(scope="module")
def plan_ops(spark):
    """The 15 pair operators plus ``exact_dedup`` and
    ``minhash_cluster_dedup``, over one corpus built once."""
    ops = _pair_ops(spark)
    docs = _pair_docs(spark)
    ops["exact_dedup"] = lambda: dedup_mod.exact_dedup(docs, "doc_id", "text")
    ops["minhash_cluster_dedup"] = lambda: dedup_mod.minhash_cluster_dedup(
        docs, "doc_id", "text"
    )
    return ops


# Recorded from the operators built through the Column API, before the
# dedup kernels emitted Spark SQL text; adaptive execution off.
_PLAN_GOLDEN = {
    "false": {
        "containment_cut1000": "097c3aaceb75b638",
        "containment_cut5": "07a2a378f578e1e5",
        "containment_cutNone": "43374703393aaa05",
        "containment_sketch": "eb8456c7cdeaecb0",
        "embedding_bucketed": "e507c528206cfcad",
        "exact_dedup": "a4dfc6960ffe3137",
        "fuzzy": "0008a1af57c7025e",
        "hamming": "723a74a86c64da81",
        "jaccard_cut1000": "ace12c33849cfdb8",
        "jaccard_cut5": "481b9cb902f9c9e2",
        "jaccard_cutNone": "7253113972be8565",
        "minhash_32_16": "8dc02c74ebda9ef6",
        "minhash_cluster_dedup": "b58d304f353ca683",
        "semantic": "aa8c4c39d71b73b0",
        "simhash_md5": "04c45061d1c6a624",
        "simhash_near_duplicates": "0888f5e86c180821",
        "simhash_xxhash64": "6ad2aaa37cdfc983",
    },
    "true": {
        "containment_cut1000": "0687512164419f51",
        "containment_cut5": "d6e50d3c500c91d7",
        "containment_cutNone": "ef2233f80f5057ad",
        "containment_sketch": "f0377a7401453f33",
        "embedding_bucketed": "e507c528206cfcad",
        "exact_dedup": "a4dfc6960ffe3137",
        "fuzzy": "0008a1af57c7025e",
        "hamming": "723a74a86c64da81",
        "jaccard_cut1000": "cd322d94b43485dc",
        "jaccard_cut5": "47e45bc573d76024",
        "jaccard_cutNone": "c47fa8ba98bc8d18",
        "minhash_32_16": "c24c021afa32b13e",
        "minhash_cluster_dedup": "b58d304f353ca683",
        "semantic": "aa8c4c39d71b73b0",
        "simhash_md5": "0902c58008447aa5",
        "simhash_near_duplicates": "0888f5e86c180821",
        "simhash_xxhash64": "6ad2aaa37cdfc983",
    },
}


@pytest.mark.parametrize("ansi", ["false", "true"])
def test_dedup_plan_golden(spark, plan_ops, ansi):
    keys = ("spark.sql.ansi.enabled", "spark.sql.adaptive.enabled",
            "spark.sql.debug.maxToStringFields")
    prior = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    try:
        got = {name: _plan_digest(op()) for name, op in plan_ops.items()}
    finally:
        spark.catalog.clearCache()
        for k, v in prior.items():
            spark.conf.set(k, v)
    assert got == _PLAN_GOLDEN[ansi]


_SIMHASH_TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "Hello   World",
    "a",
    "",
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
]
_SIMHASH_GOLDEN = {
    "xxhash64": [1649482817916862672, 4828021670264516882,
                 -8582455328737087284, -7444071767201028348,
                 364538773478920972],
    "md5": [71287435741409892, 419978266733191168, 57446577476672362,
            955282973525019424, 897360378449667610],
}


@pytest.mark.parametrize("ansi", ["false", "true"])
@pytest.mark.parametrize("token_hash", sorted(_SIMHASH_GOLDEN))
def test_simhash_signatures_golden(spark, token_hash, ansi):
    df = spark.createDataFrame(
        list(enumerate(_SIMHASH_TEXTS)), "doc_id long, text string"
    )
    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        rows = dedup_mod.simhash_signatures(
            df, "doc_id", "text", token_hash=token_hash
        ).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)
    got = [s for _, s in sorted((r["doc_id"], r["simhash"]) for r in rows)]
    assert got == _SIMHASH_GOLDEN[token_hash]


def test_simhash_near_duplicates_matches_brute_force(spark):
    """Four 16-bit bands: by pigeonhole every pair within 3 bits shares a
    band, so the banded join finds exactly the all-pairs answer; at 4
    bits that guarantee is gone and the operator refuses."""
    from pyspark.sql import functions as F

    docs = _pair_docs(spark)
    sigs = dedup_mod.simhash_signatures(docs, "doc_id", "text")
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("_a"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("_b"))
    everything = a.crossJoin(b).where(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", F.bit_count(F.col("_a").bitwiseXOR(F.col("_b"))).alias("h")
    )
    for max_hamming in range(4):
        want = {
            tuple(r) for r in everything.where(F.col("h") <= max_hamming).collect()
        }
        got = {
            tuple(r)
            for r in dedup_mod.simhash_near_duplicates(
                docs, "doc_id", "text", max_hamming=max_hamming
            ).collect()
        }
        assert got == want, max_hamming
    assert {h for _, _, h in want} - {0}  # near pairs, not only exact copies
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup_mod.simhash_near_duplicates(docs, "doc_id", "text", max_hamming=4)


def test_minhash_cluster_dedup_releases_caches_on_error(spark, monkeypatch):
    def failing(pairs, *args):
        pairs.count()  # materializes the shingle-hash and bucket caches
        raise RuntimeError("propagation failed")

    monkeypatch.setattr(dedup_mod, "_propagate_components", failing)
    docs = _pair_docs(spark)
    before = _persisted_ids(spark)
    with pytest.raises(RuntimeError, match="propagation failed"):
        dedup_mod.minhash_cluster_dedup(docs, "doc_id", "text")
    assert _persisted_ids(spark) - before == set()
