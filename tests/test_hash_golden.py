"""Golden digests for the operators built on the portable md5-60 hash
and the ``hash_mode`` bucket.

Every operator that derives a 60-bit value from an md5 hex prefix, or a
bucket from ``(seed, id)``, runs here once on one small seeded corpus.
Each case records the row count and an order-insensitive sha256 of its
collected rows, which must not change with the shuffle partition count
(2 or 7) or with ANSI mode, and the sha256 of its optimized logical plan
(cache entries not substituted) with expression ids and lambda-variable
counters blanked, per ANSI mode.  The digests
were recorded while every operator still spelled the hash out by hand;
moving the hash into one module must leave every bit and every plan as
it was.
"""

import hashlib
import random
import re

import pytest
from pyspark.sql import functions as F

from dbldatagen_spark.functions import (
    authority_contamination_sample,
    authority_weighted_sample,
    cluster_aware_split,
    cms_sketch,
    containment_sketch_pairs,
    contamination_aware_split,
    contrastive_negatives,
    curriculum_order,
    distribution_matched_sample,
    dp_noisy_counts,
    duplicated_span_stats,
    fertility_token_allocation,
    kmv_sketch,
    length_bucket_batches,
    mix_corpus,
    pack_sequences,
    priority_sample,
    quota_sample,
    simhash_signatures,
    split_assign,
    table_checksum,
    temperature_token_allocation,
    temperature_weights,
    weighted_sample,
)

N_DOCS = 200
SPLIT = {"train": 0.8, "val": 0.1, "test": 0.1}
MERGES = [("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
          ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e")]
VOCAB = (
    "the and of in to a is that for it as was with be by on not he this "
    "are or his from at which but have an they one had word there"
).split()
BOILERPLATE = "all rights reserved under the terms of this license".split()


def _docs():
    rng = random.Random(1212)
    texts = []
    rows = []
    for i in range(N_DOCS):
        if i % 11 == 6:
            words = texts[i - 5].split()
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randint(6, 25))]
            if i % 7 == 3:
                at = rng.randint(0, len(words))
                words[at:at] = BOILERPLATE
        texts.append(" ".join(words))
        url = (
            "::bad::" if i % 17 == 0
            else f"https://www.h{i % 9}.example.com/d/{i}"
        )
        rows.append((
            i,
            ["en", "de", "fr", "sw", "yo"][i % 5 if i % 3 else 0],
            "abcd"[i % 4],
            url,
            texts[i],
            None if i % 97 == 5 else len(words),
            None if i % 89 == 7 else rng.uniform(0.0, 10.0),
            float(i % 6),
        ))
    return rows


@pytest.fixture(scope="module")
def frames(spark):
    docs = spark.createDataFrame(
        _docs(),
        "doc_id long, lang string, source string, url string, text string, "
        "n_tokens int, score double, weight double",
    )
    texts = [r[4] for r in _docs()]
    bench = spark.createDataFrame(
        [(texts[3],), (texts[50],), (" ".join(VOCAB[:12]),)], "text string"
    )
    authority = spark.createDataFrame(
        [(f"h{j}.example.com", 1000 * (j + 1) ** 2) for j in range(7)],
        "host string, rank_units long",
    )
    reference = spark.range(100).select(
        (F.pmod(F.col("id"), F.lit(13)) * F.lit(0.75)).alias("score")
    )
    pairs = spark.createDataFrame(
        [(3, 10), (10, 17), (40, 41), (100, 150)], "id_a long, id_b long"
    )
    return docs, bench, authority, reference, pairs


CASES = {
    "split_assign/md5": lambda d, b, a, r, p: split_assign(
        d, "doc_id", SPLIT, seed=7, hash_mode="md5"),
    "split_assign/xxhash64": lambda d, b, a, r, p: split_assign(
        d, "doc_id", SPLIT, seed=7, hash_mode="xxhash64"),
    "mix_corpus": lambda d, b, a, r, p: mix_corpus(
        d, "doc_id", "source", {"a": 0.5, "b": 1.0, "c": 2.3},
        seed=3, hash_mode="md5"),
    "quota_sample": lambda d, b, a, r, p: quota_sample(
        d, "lang", "doc_id", 12),
    "weighted_sample": lambda d, b, a, r, p: weighted_sample(
        d, "lang", "doc_id", "weight", 5),
    "priority_sample": lambda d, b, a, r, p: priority_sample(
        d, "doc_id", "weight", 6, group_cols=["lang"], seed=3),
    "cluster_aware_split": lambda d, b, a, r, p: cluster_aware_split(
        d, "doc_id", SPLIT, p, seed=5, hash_mode="md5"),
    "authority_weighted_sample": lambda d, b, a, r, p: (
        authority_weighted_sample(
            d, "doc_id", "url", a, base_ppm=200_000, seed=7,
            hash_mode="md5")),
    "authority_contamination_sample": lambda d, b, a, r, p: (
        authority_contamination_sample(
            d, "doc_id", "url", "text", a, b, n=4, base_ppm=200_000,
            seed=7, hash_mode="md5")),
    "contamination_aware_split": lambda d, b, a, r, p: (
        contamination_aware_split(
            d, "doc_id", "text", b, SPLIT, n=4, seed=9, hash_mode="md5")),
    "distribution_matched_sample": lambda d, b, a, r, p: (
        distribution_matched_sample(
            d, "doc_id", "score", r, n_bins=8, seed=4, hash_mode="md5")),
    "temperature_weights/0.5": lambda d, b, a, r, p: temperature_weights(
        d, "lang", alpha=0.5, total_budget=1000),
    "temperature_weights/0.3": lambda d, b, a, r, p: temperature_weights(
        d, "lang", alpha=0.3, total_budget=1000, cache=False),
    "temperature_token_allocation": lambda d, b, a, r, p: (
        temperature_token_allocation(
            d, "lang", "n_tokens", alpha=0.5, target_tokens=10_007)),
    "fertility_token_allocation": lambda d, b, a, r, p: (
        fertility_token_allocation(
            d, "lang", "text", MERGES, alpha=0.5, target_tokens=100_003)),
    "pack_sequences/md5": lambda d, b, a, r, p: pack_sequences(
        d, "doc_id", "n_tokens", 64, num_shards=3, hash_mode="md5"),
    "pack_sequences/xxhash64": lambda d, b, a, r, p: pack_sequences(
        d, "doc_id", "n_tokens", 64, num_shards=3, hash_mode="xxhash64"),
    "length_bucket_batches": lambda d, b, a, r, p: length_bucket_batches(
        d, "doc_id", "n_tokens", bucket_boundaries=[8, 16, 24],
        batch_tokens=64, num_shards=3, hash_mode="md5"),
    "curriculum_order": lambda d, b, a, r, p: curriculum_order(
        d.select("doc_id", "score"), "doc_id", "score", n_buckets=3,
        n_bins=16, num_shards=3, hash_mode="md5"),
    "contrastive_negatives/md5": lambda d, b, a, r, p: contrastive_negatives(
        d, "doc_id", k=2, num_buckets=5, hash_mode="md5"),
    "contrastive_negatives/xxhash64": lambda d, b, a, r, p: (
        contrastive_negatives(
            d, "doc_id", k=2, num_buckets=5, hash_mode="xxhash64")),
    "dp_noisy_counts": lambda d, b, a, r, p: dp_noisy_counts(
        d, ["lang", "source"], epsilon=0.5, seed=9),
    "table_checksum": lambda d, b, a, r, p: table_checksum(
        d, ["doc_id", "lang", "n_tokens", "text"], seed=5),
    "simhash_signatures": lambda d, b, a, r, p: simhash_signatures(
        d, "doc_id", "text", token_hash="md5"),
    "containment_sketch_pairs": lambda d, b, a, r, p: (
        containment_sketch_pairs(
            d, "doc_id", "text", k=3, sketch_k=16, threshold=0.3)),
    "kmv_sketch": lambda d, b, a, r, p: kmv_sketch(
        d, "doc_id", group_cols=["lang"], k=16, seed=2),
    "cms_sketch": lambda d, b, a, r, p: cms_sketch(
        d, "source", width=32, depth=3, seed=1),
    "duplicated_span_stats": lambda d, b, a, r, p: duplicated_span_stats(
        d, "doc_id", "text", window=4, stride=2, hash_mode="md5"),
}

# (rows, sha256 of the sorted row reprs) — the same at 2 and 7 shuffle
# partitions, ANSI off and on
GOLDEN = {
    'authority_contamination_sample': (200, '58b370634651f3f0'),
    'authority_weighted_sample': (200, '9fb10896d0b5a0e8'),
    'cluster_aware_split': (200, 'a3d26638e00a3571'),
    'cms_sketch': (11, '6b6a5f70dd704096'),
    'containment_sketch_pairs': (291, '0ea57847b89b339f'),
    'contamination_aware_split': (200, '0621b3b817d909d1'),
    'contrastive_negatives/md5': (400, '4bc3a84f991904d8'),
    'contrastive_negatives/xxhash64': (400, 'fc186dc35f99ec14'),
    'curriculum_order': (200, 'd2a6846a9c48e019'),
    'distribution_matched_sample': (200, '13673427ddeedc3a'),
    'dp_noisy_counts': (20, 'eec46154f1cc0a1b'),
    'duplicated_span_stats': (200, '828767533a9c73ff'),
    'fertility_token_allocation': (5, '4ae3aa11248038a3'),
    'kmv_sketch': (5, '7da2a65476750144'),
    'length_bucket_batches': (200, '36286f14be3f0be9'),
    'mix_corpus': (183, '6ab325a29b2b7c6a'),
    'pack_sequences/md5': (200, '9598254918354a16'),
    'pack_sequences/xxhash64': (200, '61f0d5b9e58825a5'),
    'priority_sample': (30, '309e19cd775df891'),
    'quota_sample': (60, '1db38de8e2397cf5'),
    'simhash_signatures': (200, 'b1e45f86bd618139'),
    'split_assign/md5': (200, '7d1fa03bc23a831c'),
    'split_assign/xxhash64': (200, '8fdda0e4e3f7a012'),
    'table_checksum': (1, '2bb5de1f5d3f1df4'),
    'temperature_token_allocation': (5, '67bf80957d82b535'),
    'temperature_weights/0.3': (5, '9cb3971a85119952'),
    'temperature_weights/0.5': (5, '3b39eb105509f00c'),
    'weighted_sample': (25, '5da5a08909593647'),
}

# sha256 of the optimized plan (no cache substitution) with expression ids
# blanked, per ANSI mode
PLANS = {
    'authority_contamination_sample/false': 'b24a64cb277c04e2',
    'authority_contamination_sample/true': 'cad0182a8a45e1bb',
    'authority_weighted_sample/false': '587df76394223bf1',
    'authority_weighted_sample/true': '5dab70c79628037c',
    'cluster_aware_split/false': '6f2e42e72e7c3f39',
    'cluster_aware_split/true': '4b2e3851ff1fc904',
    'cms_sketch/false': '9be5ac9b8c02b4f4',
    'cms_sketch/true': '00e6771b395a5994',
    'containment_sketch_pairs/false': '84659cf5d50d1c0d',
    'containment_sketch_pairs/true': '89bc31ee0137fa80',
    'contamination_aware_split/false': 'b2065f8b8f80ebe7',
    'contamination_aware_split/true': 'b85995cbd0e23f49',
    'contrastive_negatives/md5/false': 'f3a483fb697bf498',
    'contrastive_negatives/md5/true': '39e92650ad1d6ddd',
    'contrastive_negatives/xxhash64/false': '21e5ac80147b8228',
    'contrastive_negatives/xxhash64/true': '21e5ac80147b8228',
    'curriculum_order/false': '2d6af924cf3646fd',
    'curriculum_order/true': '2d6af924cf3646fd',
    'distribution_matched_sample/false': 'b399d98f23446261',
    'distribution_matched_sample/true': '2a8f987b1e2dce84',
    'dp_noisy_counts/false': '933f72bc7cb076f7',
    'dp_noisy_counts/true': '0facb664b1256a97',
    'duplicated_span_stats/false': '4b9c78a86eae50b6',
    'duplicated_span_stats/true': '10fb63e95dd97a9e',
    'fertility_token_allocation/false': 'e319746614d27cb5',
    'fertility_token_allocation/true': 'e319746614d27cb5',
    'kmv_sketch/false': 'b2dd034c7479f170',
    'kmv_sketch/true': '6f4bd80c67bd5a35',
    'length_bucket_batches/false': 'ef1f742abc3ee019',
    'length_bucket_batches/true': '8a8b32ac3cc4fe41',
    'mix_corpus/false': 'f8f44a738e969d3c',
    'mix_corpus/true': '144ad006fb695add',
    'pack_sequences/md5/false': 'c904c8a5f9872587',
    'pack_sequences/md5/true': '9e561a4da145c69f',
    'pack_sequences/xxhash64/false': '54d2e7b0c99d3f4e',
    'pack_sequences/xxhash64/true': '54d2e7b0c99d3f4e',
    'priority_sample/false': '12a8a56c5f836b03',
    'priority_sample/true': 'a293bc60bcd33b6a',
    'quota_sample/false': '0192bcab96012e87',
    'quota_sample/true': '0192bcab96012e87',
    'simhash_signatures/false': 'e0b7740580dc3b7d',
    'simhash_signatures/true': '3152784413822b2c',
    'split_assign/md5/false': 'e436fb984a5cdbb8',
    'split_assign/md5/true': '5a6295dba3cffcc9',
    'split_assign/xxhash64/false': 'ab3b94f9e7eb0fb5',
    'split_assign/xxhash64/true': 'ab3b94f9e7eb0fb5',
    # one CAST(... AS BIGINT) more than at recording, under the decimal
    # sum: the shared md5_60 hash is a long (the same 60-bit value)
    'table_checksum/false': '03c1259b8decc57c',
    'table_checksum/true': 'e594d371979e3b3f',
    'temperature_token_allocation/false': '6a4de4771823106c',
    'temperature_token_allocation/true': '6a4de4771823106c',
    'temperature_weights/0.3/false': '0d6f3b0762f9c450',
    'temperature_weights/0.3/true': '0d6f3b0762f9c450',
    'temperature_weights/0.5/false': '01431bf981fb42d7',
    'temperature_weights/0.5/true': '01431bf981fb42d7',
    'weighted_sample/false': '62d70c11130231e2',
    'weighted_sample/true': 'd8afe03f8b2ccb61',
}


def rows_digest(df):
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def plan_digest(df):
    # the analyzed plan run through the optimizer, without the cache
    # substitution that would print the physical plan of whichever call
    # first filled a cache entry
    jspark = df.sparkSession._jsparkSession
    analyzed = df._jdf.queryExecution().analyzed().clone()
    plan = jspark.sessionState().optimizer().execute(analyzed).toString()
    # expression ids and PySpark's lambda-variable counter (x_1, y_2, ...)
    # depend on what the session built before, not on the plan
    plan = re.sub(r"(lambda \w+?)_\d+#", r"\1#", re.sub(r"#\d+L?", "#", plan))
    return hashlib.sha256(plan.encode()).hexdigest()[:16]


@pytest.fixture(params=["false", "true"], ids=["ansi_off", "ansi_on"])
def ansi(spark, request):
    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", request.param)
    yield request.param
    spark.conf.set("spark.sql.ansi.enabled", prior)


@pytest.fixture(params=[2, 7], ids=["p2", "p7"])
def partitions(spark, request):
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(request.param))
    yield request.param
    spark.conf.set("spark.sql.shuffle.partitions", prior)


@pytest.mark.parametrize("name", sorted(CASES))
def test_hash_operator_is_bit_identical(spark, frames, ansi, partitions, name):
    df = CASES[name](*frames)
    assert plan_digest(df) == PLANS[f"{name}/{ansi}"], name
    assert rows_digest(df) == GOLDEN[name], (name, ansi, partitions)


HASH_MODE_OPS = {
    "split_assign": lambda d, b, a, r, p, m: split_assign(
        d, "doc_id", SPLIT, hash_mode=m),
    "mix_corpus": lambda d, b, a, r, p, m: mix_corpus(
        d, "doc_id", "source", {"a": 0.5}, hash_mode=m),
    "quota_sample": lambda d, b, a, r, p, m: quota_sample(
        d, "lang", "doc_id", 12, hash_mode=m),
    "cluster_aware_split": lambda d, b, a, r, p, m: cluster_aware_split(
        d, "doc_id", SPLIT, p, hash_mode=m),
    "authority_weighted_sample": lambda d, b, a, r, p, m: (
        authority_weighted_sample(d, "doc_id", "url", a, hash_mode=m)),
    "authority_contamination_sample": lambda d, b, a, r, p, m: (
        authority_contamination_sample(
            d, "doc_id", "url", "text", a, b, hash_mode=m)),
    "contamination_aware_split": lambda d, b, a, r, p, m: (
        contamination_aware_split(d, "doc_id", "text", b, SPLIT, hash_mode=m)),
    "distribution_matched_sample": lambda d, b, a, r, p, m: (
        distribution_matched_sample(d, "doc_id", "score", r, hash_mode=m)),
    "pack_sequences": lambda d, b, a, r, p, m: pack_sequences(
        d, "doc_id", "n_tokens", 64, hash_mode=m),
    "length_bucket_batches": lambda d, b, a, r, p, m: length_bucket_batches(
        d, "doc_id", "n_tokens", bucket_boundaries=[8], batch_tokens=64,
        hash_mode=m),
    "curriculum_order": lambda d, b, a, r, p, m: curriculum_order(
        d, "doc_id", "score", hash_mode=m),
    "contrastive_negatives": lambda d, b, a, r, p, m: contrastive_negatives(
        d, "doc_id", hash_mode=m),
    "duplicated_span_stats": lambda d, b, a, r, p, m: duplicated_span_stats(
        d, "doc_id", "text", hash_mode=m),
    "simhash_signatures": lambda d, b, a, r, p, m: simhash_signatures(
        d, "doc_id", "text", token_hash=m),
}


@pytest.mark.parametrize("name", sorted(HASH_MODE_OPS))
def test_unknown_hash_mode_raises_at_construction(spark, frames, name):
    # the ValueError names the parameter, and comes before any Spark job
    param = "token_hash" if name == "simhash_signatures" else "hash_mode"
    tracker = spark.sparkContext.statusTracker()
    before = sorted(tracker.getJobIdsForGroup(None) or [])
    with pytest.raises(ValueError, match=f"^{param} must be xxhash64\\|md5"):
        HASH_MODE_OPS[name](*frames, "sha1")
    assert sorted(tracker.getJobIdsForGroup(None) or []) == before
