"""Pipeline-operator tests over the driver's sf0.001 testdata."""

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


class TestDedup:
    def test_exact_dedup_counts(self, spark, docs):
        from dbldatagen_spark.functions import exact_dedup

        out = exact_dedup(docs, "doc_id", "text", normalize=False)
        assert out.agg(F.sum("dup_count")).first()[0] == docs.count()

    def test_exact_dedup_finds_duplicates(self, spark):
        from dbldatagen_spark.functions import exact_dedup

        df = spark.createDataFrame(
            [(1, "hello world"), (2, "hello  world"), (3, "other text")],
            ["doc_id", "text"],
        )
        out = exact_dedup(df, "doc_id", "text").collect()
        by_id = {r.doc_id: r.dup_count for r in out}
        assert by_id == {1: 2, 3: 1}

    def test_ngram_jaccard_self_similarity(self, spark):
        from dbldatagen_spark.functions import ngram_jaccard_pairs

        df = spark.createDataFrame(
            [
                (1, "a b c d e f g h"),
                (2, "a b c d e f g h"),       # identical -> J=1.0
                (3, "a b c d e f g x"),       # near dup
                (4, "q r s t u v w z"),       # unrelated
            ],
            ["doc_id", "text"],
        )
        pairs = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(
            df, "doc_id", "text", threshold=0.5).collect()}
        assert pairs[(1, 2)] == 1.0
        assert (1, 4) not in pairs
        assert (1, 3) in pairs and pairs[(1, 3)] < 1.0

    def test_minhash_matches_exact(self, spark, docs):
        from dbldatagen_spark.functions import minhash_near_duplicates, ngram_jaccard_pairs

        exact = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
        }
        mh = {
            (r.id_a, r.id_b)
            for r in minhash_near_duplicates(
                docs, "doc_id", "text", threshold=0.5
            ).collect()
        }
        assert mh == exact  # verification makes LSH output exact (recall ~1)

    def test_simhash_identical_texts_equal(self, spark):
        from dbldatagen_spark.functions import simhash_signatures

        df = spark.createDataFrame(
            [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "xyz abc")],
            ["doc_id", "text"],
        )
        sigs = {r.doc_id: r.simhash for r in simhash_signatures(df, "doc_id", "text").collect()}
        assert sigs[1] == sigs[2]
        assert sigs[1] != sigs[3]

    def test_embedding_exact_screen_lossless(self, spark):
        # the r16 numpy screen ahead of the exact all-pairs fold must be
        # LOSSLESS: output (pairs AND cosine values) identical to a
        # screen-free crossJoin reference built from the same fold
        # expression, including (a) a pair just ABOVE the round-to-4
        # qualify boundary, (b) a pair inside the screen margin but
        # below the boundary (screen passes it, exact tail drops it),
        # (c) NULL and ragged vectors (fallback block path).
        import math
        import random

        from dbldatagen_spark.functions import embedding_near_duplicates
        from dbldatagen_spark.functions.similarity import (
            cosine_similarity_expr,
        )

        rng = random.Random(7)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(4)])
                for i in range(20)]
        c_hi, c_lo = 0.89996, 0.89994   # round to 0.9000 / 0.8999
        rows += [
            (100, [1.0, 0.0, 0.0, 0.0]),
            (101, [c_hi, math.sqrt(1 - c_hi * c_hi), 0.0, 0.0]),
            (102, [c_lo, -math.sqrt(1 - c_lo * c_lo), 0.0, 0.0]),
            (103, None),                 # NULL vector -> cosine 0.0
            (104, [0.5, 0.5, 0.1]),      # ragged: cross-length = NULL
            (105, [0.5, 0.5, 0.1]),      # ragged twin (same-length pair)
            (106, [0.0, 0.0, 0.0, 0.0]),  # zero norm -> cosine 0.0
        ]
        emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
        got = {
            (r.id_a, r.id_b): r.cosine
            for r in embedding_near_duplicates(
                emb, "vec_id", "embedding", threshold=0.9, bucketed=False
            ).collect()
        }
        a = emb.select(F.col("vec_id").alias("id_a"),
                       F.col("embedding").alias("_x"))
        b = emb.select(F.col("vec_id").alias("id_b"),
                       F.col("embedding").alias("_y"))
        ref = {
            (r.id_a, r.id_b): r.cosine
            for r in a.crossJoin(b)
            .where(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a", "id_b",
                F.round(
                    cosine_similarity_expr(F.col("_x"), F.col("_y")), 4
                ).alias("cosine"),
            )
            .where(F.col("cosine") >= 0.9)
            .collect()
        }
        assert got == ref
        assert (100, 101) in got and got[(100, 101)] == 0.9
        assert (100, 102) not in got          # margin pair dropped by tail
        assert (104, 105) in got              # ragged same-length pair kept

    def test_embedding_near_dup_bucketed_matches_brute(self, spark, emb):
        from dbldatagen_spark.functions import embedding_near_duplicates

        brute = {
            (r.id_a, r.id_b)
            for r in embedding_near_duplicates(
                emb, "vec_id", "embedding", threshold=0.9, bucketed=False
            ).collect()
        }
        bucketed = {
            (r.id_a, r.id_b)
            for r in embedding_near_duplicates(
                emb, "vec_id", "embedding", threshold=0.9, bucketed=True
            ).collect()
        }
        assert bucketed <= brute
        if brute:
            assert len(bucketed) >= int(0.8 * len(brute))


class TestSimilarity:
    def test_cosine_topk_self_first(self, spark, emb):
        from dbldatagen_spark.functions import cosine_topk

        q = emb.where("vec_id = 0").first()["embedding"]
        top = cosine_topk(emb, "vec_id", "embedding", q, k=5).collect()
        assert top[0].vec_id == 0 and abs(top[0].cosine - 1.0) < 1e-6

    def test_lsh_ann_candidates_subset(self, spark, emb):
        from dbldatagen_spark.functions import cosine_topk, lsh_bucket_ann_topk

        q = emb.where("vec_id = 0").first()["embedding"]
        exact = [r.vec_id for r in cosine_topk(emb, "vec_id", "embedding", q, k=10).collect()]
        approx = [
            r.vec_id
            for r in lsh_bucket_ann_topk(
                emb, "vec_id", "embedding", q, k=10, max_hamming=6
            ).collect()
        ]
        # neighbors here sit at cosine ~0.3 (near-orthogonal), where
        # hyperplane collision prob/plane is only ~0.6 — a generous hamming
        # budget still recovers most of the exact top-k
        assert len(set(exact) & set(approx)) >= 6

    def test_knn_join(self, spark, emb):
        from dbldatagen_spark.functions.similarity import knn_join

        small = emb.limit(20)
        out = knn_join(small, small, "vec_id", "vec_id", "embedding", "embedding", k=3)
        rows = out.collect()
        assert len(rows) == 60
        firsts = [r for r in rows if r.rank == 1]
        for r in firsts:
            assert abs(r.cosine - 1.0) < 1e-6  # self is nearest

    def test_knn_join_auto_small_matches_brute(self, spark, emb):
        from dbldatagen_spark.functions.similarity import knn_join

        small = emb.limit(20)
        args = (small, small, "vec_id", "vec_id", "embedding", "embedding")
        brute = {tuple(r) for r in knn_join(*args, k=3, method="brute").collect()}
        auto = {tuple(r) for r in knn_join(*args, k=3, method="auto").collect()}
        assert auto == brute  # small left side -> auto takes the brute route

    def test_knn_join_lsh_route(self, spark, emb):
        from dbldatagen_spark.functions.similarity import knn_join

        small = emb.limit(50)
        args = (small, small, "vec_id", "vec_id", "embedding", "embedding")
        # force the LSH route via a tiny auto threshold
        out = knn_join(*args, k=3, method="auto", brute_max_left_rows=10,
                       num_planes=12, num_bands=6).collect()
        by_left = {}
        for r in out:
            by_left.setdefault(r[0], []).append(r)
        # self-pairs share every band, so every left id yields rank-1 = self
        assert len(by_left) == 50
        for lid, rows in by_left.items():
            r1 = min(rows, key=lambda r: r.rank)
            assert r1.rank == 1 and abs(r1.cosine - 1.0) < 1e-6
            assert len(rows) <= 3

    def test_knn_join_bad_method(self, spark, emb):
        import pytest

        from dbldatagen_spark.functions.similarity import knn_join

        small = emb.limit(5)
        with pytest.raises(ValueError):
            knn_join(small, small, "vec_id", "vec_id", "embedding",
                     "embedding", method="nope").collect()


class TestTextAnalysis:
    def test_token_counts(self, spark, docs):
        from dbldatagen_spark.functions import token_count_expr

        out = docs.select(
            "doc_id",
            token_count_expr(F.col("text")).alias("ws"),
            token_count_expr(F.col("text"), mode="bpe").alias("bpe"),
        )
        assert out.where("ws <= 0").count() == 0
        assert out.where("bpe < ws").count() == 0

    def test_detect_language_stopwords(self, spark):
        from dbldatagen_spark.functions import detect_language

        df = spark.createDataFrame(
            [
                (1, "the cat and the dog is in that house for a while with food"),
                (2, "der hund und die katze ist nicht ein tier mit auf zu"),
                (3, "le chat et la maison les des est une dans pour que"),
                (4, "qqq zzz vvv"),
                (5, "你好 世界"),
            ],
            ["doc_id", "text"],
        )
        out = {r.doc_id: r.detected_lang for r in detect_language(df, "doc_id", "text").collect()}
        assert out == {1: "en", 2: "de", 3: "fr", 4: "und", 5: "zh"}

    def test_quality_metrics_bounds(self, spark, docs):
        from dbldatagen_spark.functions import quality_metrics

        out = quality_metrics(docs, "doc_id", "text")
        bad = out.where(
            (F.col("quality_score") < 0) | (F.col("quality_score") > 1)
            | (F.col("alpha_ratio") > 1) | (F.col("distinct_ratio") > 1)
        ).count()
        assert bad == 0

    def test_fingerprint_identity(self, spark):
        from dbldatagen_spark.functions import document_fingerprint

        df = spark.createDataFrame(
            [(1, "Hello  World"), (2, "hello world"), (3, "different")],
            ["doc_id", "text"],
        )
        out = {r.doc_id: r.sha256_hex for r in document_fingerprint(df, "doc_id", "text").collect()}
        assert out[1] == out[2]
        assert out[1] != out[3]


class TestMultimodal:
    def test_feature_extraction_pipeline(self, spark):
        from dbldatagen_spark.functions.multimodal import (
            FEATURE_DIM,
            extract_media_features,
            synthesize_media_table,
        )

        media = synthesize_media_table(spark, rows=200, partitions=3)
        feats = extract_media_features(media, fake=True)
        rows = feats.collect()
        assert len(rows) == 200
        for r in rows[:10]:
            assert len(r.features) == FEATURE_DIM
            assert all(0.0 <= f <= 1.0 for f in r.features)
            assert r.payload_bytes > 0

    def test_real_decode_raises(self, spark):
        from dbldatagen_spark.functions.multimodal import (
            extract_media_features,
            synthesize_media_table,
        )
        from py4j.protocol import Py4JJavaError

        media = synthesize_media_table(spark, rows=10, partitions=1)
        with pytest.raises(Exception) as exc_info:
            extract_media_features(media, fake=False).collect()
        assert "NotImplementedError" in str(exc_info.value) or isinstance(
            exc_info.value, NotImplementedError
        )

    def test_frame_sampling(self, spark):
        from dbldatagen_spark.functions.multimodal import (
            frame_sample_plan,
            synthesize_media_table,
        )

        media = synthesize_media_table(spark, rows=100, partitions=2)
        frames = frame_sample_plan(media, every_ms=1000)
        joined = frames.join(media, "media_id").where(
            (F.col("frame_ts_ms") >= F.col("duration_ms") + 1000)
        )
        assert joined.count() == 0
        assert frames.where("media_id % 3 != 2").count() == 0  # only videos


def test_ivf_ann_topk_matches_bruteforce_within_probed_cells(spark, emb):
    """IVF with all cells probed == exact brute force; with n_probe=2 the
    result is the exact top-k restricted to the two nearest cells."""
    from dbldatagen_spark.functions.similarity import cosine_topk, ivf_ann_topk

    q = emb.where(F.col("vec_id") == 0).first()["embedding"]
    n_cells = emb.select("label").distinct().count()
    full = ivf_ann_topk(
        emb, "vec_id", "embedding", q, k=10, cell_col="label", n_probe=n_cells
    )
    exact = cosine_topk(emb, "vec_id", "embedding", q, k=10)
    assert [r["vec_id"] for r in full.collect()] == [
        r["vec_id"] for r in exact.collect()
    ]
    probed = ivf_ann_topk(
        emb, "vec_id", "embedding", q, k=10, cell_col="label", n_probe=2
    ).collect()
    labels = {r["label"] for r in probed}
    assert len(labels) <= 2 and len(probed) == 10


def test_resize_images_plumbing(spark):
    from dbldatagen_spark.functions.multimodal import (
        resize_images,
        synthesize_media_table,
    )

    media = synthesize_media_table(spark, rows=90, partitions=3)
    out = resize_images(media, target_width=224, target_height=224)
    rows = out.collect()
    n_images = media.where(F.col("media_type") == "image").count()
    assert len(rows) == n_images
    for r in rows:
        assert 1 <= r["width"] <= 224 and 1 <= r["height"] <= 224
        # aspect preserved up to rounding of the smaller output dimension
        orig_ratio = r["orig_width"] / r["orig_height"]
        new_ratio = r["width"] / r["height"]
        tol = orig_ratio * (0.75 / min(r["width"], r["height"]) + 0.01)
        assert abs(new_ratio - orig_ratio) <= tol
        assert r["payload"] is not None


def test_explode_outer_null_element_invariant(spark):
    """The r15 explode -> explode_outer+isNotNull sweep (33 sites,
    made to stop InferFiltersFromGenerate inlining the whole array
    pipeline below the exchange) is row-identical to plain explode
    ONLY while the exploded arrays never contain NULL *elements*: the
    isNotNull filter on the GENERATED column drops a NULL element
    that plain explode would keep.  This pins both halves of that
    invariant: (a) the swap's exact row behavior on every array shape
    the swept sites produce, including the documented divergence on a
    null element; (b) a representative production site's computed
    arrays (split/transform outputs) really never hold NULL elements,
    whatever the input text.  A future swept site whose arrays CAN
    hold NULL elements must keep plain explode (or filter
    deliberately) — this test is the tripwire documentation."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, []), (3, None), (4, ["a", None])],
        "id long, arr array<string>",
    )
    plain = df.select("id", F.explode("arr").alias("x"))
    swapped = df.select("id", F.explode_outer("arr").alias("x")).where(
        F.col("x").isNotNull()
    )
    # identical on non-null-element arrays (rows 1-3: plain array,
    # empty array, NULL array)...
    assert sorted(map(tuple, plain.where("id < 4").collect())) == sorted(
        map(tuple, swapped.where("id < 4").collect())
    ) == [(1, "a"), (1, "b")]
    # ...and the divergence on a NULL element is exactly one dropped row
    assert sorted(
        map(tuple, plain.collect()), key=lambda t: (t[0], t[1] or "")
    ) == [(1, "a"), (1, "b"), (4, None), (4, "a")]
    assert sorted(map(tuple, swapped.collect())) == [
        (1, "a"), (1, "b"), (4, "a"),
    ]
    # (b) representative swept site: shingled_df's arrays never
    # contain NULL elements for NULL / empty / whitespace / real text
    from dbldatagen_spark.functions.dedup import shingled_df

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, ""), (3, None), (4, "  "),
         (5, "one two")],
        "doc_id long, text string",
    )
    sh = shingled_df(docs, "doc_id", "text", 3)
    assert sh.where(
        F.exists("shingles", lambda s: s.isNull())
    ).count() == 0


def test_duplicate_components(spark):
    from dbldatagen_spark.functions import duplicate_components

    # two clusters {1,2,3,4} (via chain) and {10,11}, singleton pairs excluded
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    got = {
        (r["vertex"], r["component"])
        for r in duplicate_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_duplicate_components_reliable_checkpoint(spark, tmp_path):
    from dbldatagen_spark.functions import duplicate_components

    # checkpoint_dir switches the lineage truncation from executor-local
    # blocks to reliable storage; results must be identical either way
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    ckpt = str(tmp_path / "ckpt")
    got = {
        (r["vertex"], r["component"])
        for r in duplicate_components(pairs, checkpoint_dir=ckpt).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}
    import os
    assert any(os.scandir(ckpt)), "reliable checkpoint wrote nothing"


def test_duplicate_components_restores_checkpoint_dir(spark, tmp_path):
    from dbldatagen_spark.functions import duplicate_components

    # the checkpoint_dir override must not leak past the call when the
    # session already had one configured
    prior = str(tmp_path / "prior")
    spark.sparkContext.setCheckpointDir(prior)
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    duplicate_components(pairs, checkpoint_dir=str(tmp_path / "other")).collect()
    # setCheckpointDir nests a UUID subdir, so compare trees not paths
    after = spark.sparkContext._jsc.sc().getCheckpointDir()
    assert after.isDefined()
    assert "prior" in after.get() and "other" not in after.get()


def test_duplicate_components_clears_checkpoint_dir_when_none(
    spark, tmp_path
):
    from dbldatagen_spark.functions import duplicate_components

    # when the session had NO checkpoint dir, the override must be
    # CLEARED on return, not left pointing at the call's dir (a
    # lasting session-level side effect)
    sc = spark.sparkContext
    sc._jsc.sc().setCheckpointDir(None)
    assert not sc._jsc.sc().getCheckpointDir().isDefined()
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    duplicate_components(
        pairs, checkpoint_dir=str(tmp_path / "ephemeral")
    ).collect()
    assert not sc._jsc.sc().getCheckpointDir().isDefined()


class TestSessionize:
    @staticmethod
    def _norm(df):
        return {
            tuple(str(x) for x in r)
            for r in df.select(
                "user_id", "session_seq", "n_events",
                "session_start", "session_end", "session_value",
            ).collect()
        }

    def test_skew_safe_matches_window_on_events(self, spark):
        from dbldatagen_spark.functions import sessionize

        ev = spark.read.parquet(f"{SF}/events.parquet")
        a = sessionize(ev, "user_id", "ts", gap_seconds=1800, value_col="value")
        b = sessionize(ev, "user_id", "ts", gap_seconds=1800, value_col="value",
                       method="skew_safe", bucket_seconds=7200)
        assert self._norm(a) == self._norm(b)

    def test_skew_safe_matches_window_on_hot_user(self, spark):
        import datetime as dt

        from dbldatagen_spark.functions import sessionize

        # one bot user with bursts that straddle bucket boundaries, plus a
        # quiet user; small bucket (60 s) forces many cross-bucket merges
        t0 = dt.datetime(2024, 1, 1)
        rows = []
        t = t0
        for i in range(400):
            # 10-event bursts 5 s apart, then a 90 s gap (> 30 s threshold)
            step = 5 if (i % 10) else 90
            t = t + dt.timedelta(seconds=step)
            rows.append(("bot", t, 1.0))
        rows.append(("quiet", t0, 2.0))
        rows.append(("quiet", t0 + dt.timedelta(seconds=10), 2.0))
        ev = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")
        a = sessionize(ev, "user_id", "ts", gap_seconds=30, value_col="value")
        b = sessionize(ev, "user_id", "ts", gap_seconds=30, value_col="value",
                       method="skew_safe", bucket_seconds=60)
        assert self._norm(a) == self._norm(b)

    def test_sessionize_validations(self, spark):
        from dbldatagen_spark.functions import sessionize

        ev = spark.createDataFrame([("u", 0.0)], "user_id string, ts double")
        with pytest.raises(ValueError):
            sessionize(ev, "user_id", "ts", method="nope")
        with pytest.raises(ValueError):
            sessionize(ev, "user_id", "ts", gap_seconds=100,
                       method="skew_safe", bucket_seconds=50)

    def test_auto_routes_by_key_size(self, spark):
        from dbldatagen_spark.functions import (
            choose_sessionize_method,
            sessionize,
        )

        ev = spark.read.parquet(f"{SF}/events.parquet")
        # every user holds ~67 events in the testdata: a cap of 10
        # detects a "mega user", a cap of 10^6 does not
        assert choose_sessionize_method(
            ev, "user_id", max_events_per_key=10) == "skew_safe"
        assert choose_sessionize_method(
            ev, "user_id", max_events_per_key=1_000_000) == "window"
        # both auto routes produce the single-window result exactly
        want = self._norm(
            sessionize(ev, "user_id", "ts", gap_seconds=1800,
                       value_col="value")
        )
        for cap in (10, 1_000_000):
            got = sessionize(ev, "user_id", "ts", gap_seconds=1800,
                             value_col="value", method="auto",
                             max_events_per_key=cap)
            assert self._norm(got) == want

    def test_auto_validation(self, spark):
        from dbldatagen_spark.functions import choose_sessionize_method

        ev = spark.createDataFrame([("u", 0.0)], "user_id string, ts double")
        with pytest.raises(ValueError):
            choose_sessionize_method(ev, "user_id", max_events_per_key=0)


def test_duplicate_components_long_chain(spark):
    from dbldatagen_spark.functions import duplicate_components

    # a 200-vertex path: pointer jumping must converge well inside the
    # iteration cap (plain propagation would need 200 rounds)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["id_a", "id_b"]
    )
    rows = duplicate_components(pairs, max_iterations=12).collect()
    assert len(rows) == 201
    assert all(r["component"] == 0 for r in rows)


def test_chunk_documents(spark):
    from dbldatagen_spark.functions import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "a b c")],
        ["doc_id", "text"],
    )
    rows = chunk_documents(df, "doc_id", "text", chunk_tokens=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 3  # 10 tokens -> 4+4+2
    assert [r["n_tokens"] for r in sorted(by_doc[1], key=lambda r: r["chunk_idx"])] == [4, 4, 2]
    assert sorted(by_doc[1], key=lambda r: r["chunk_idx"])[0]["chunk_text"] == "w0 w1 w2 w3"
    assert sorted(by_doc[1], key=lambda r: r["chunk_idx"])[-1]["chunk_text"] == "w8 w9"
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_tokens"] == 3
    # tokens reassemble to the original document when overlap=0
    rebuilt = " ".join(
        r["chunk_text"] for r in sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    )
    assert rebuilt == " ".join(f"w{i}" for i in range(10))


def test_chunk_documents_overlap(spark):
    from dbldatagen_spark.functions import chunk_documents

    df = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    rows = sorted(
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=2).collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert [r["chunk_text"] for r in rows] == ["a b c d", "c d e f", "e f"]


def test_curate_corpus(spark, docs):
    from dbldatagen_spark.functions import (
        curate_corpus,
        detect_language,
        duplicate_components,
        ngram_jaccard_pairs,
        quality_metrics,
    )

    kept = curate_corpus(docs, "doc_id", "text", lang="en", min_quality=0.5)
    rows = kept.collect()
    assert 0 < len(rows) < docs.count()
    kept_ids = {r["doc_id"] for r in rows}
    # every kept doc is English and above the quality bar
    langs = {r["doc_id"]: r["detected_lang"]
             for r in detect_language(docs, "doc_id", "text").collect()}
    quals = {r["doc_id"]: r["quality_score"]
             for r in quality_metrics(docs, "doc_id", "text").collect()}
    assert all(langs[i] == "en" and quals[i] >= 0.5 for i in kept_ids)
    # no two kept docs share a duplicate cluster
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
    comp = {r["vertex"]: r["component"]
            for r in duplicate_components(pairs).collect()}
    clusters = [comp[i] for i in kept_ids if i in comp]
    assert len(clusters) == len(set(clusters))


def test_deterministic_sample(spark, docs):
    from dbldatagen_spark.functions import deterministic_sample

    out = deterministic_sample(docs, "doc_id", 3, 10)
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert all(i % 10 < 3 for i in ids)
    n = docs.count()
    assert abs(len(ids) - 0.3 * n) <= 0.05 * n + 1
    # repartitioning cannot change the sample
    ids2 = {r["doc_id"] for r in
            deterministic_sample(docs.repartition(7), "doc_id", 3, 10)
            .select("doc_id").collect()}
    assert ids == ids2


def test_stratified_sample(spark, docs):
    from dbldatagen_spark.functions import stratified_sample

    out = stratified_sample(docs, "lang", "doc_id", 5).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r["doc_id"])
    sizes = {r["lang"]: r["n"] for r in
             docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, picked in by_lang.items():
        assert len(picked) == min(5, sizes[lang])
        # lowest ids of the stratum were picked
        lo = sorted(r["doc_id"] for r in docs.where(F.col("lang") == lang)
                    .select("doc_id").collect())[: len(picked)]
        assert sorted(picked) == lo


def test_asof_join(spark):
    from datetime import datetime

    from dbldatagen_spark.functions import asof_join

    quotes = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 10, 0), 100.0),
            (1, datetime(2024, 1, 1, 11, 0), 110.0),
            (2, datetime(2024, 1, 1, 10, 30), 50.0),
        ],
        ["sym", "ts", "px"],
    )
    trades = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 10, 30), 5),   # -> 100.0
            (1, datetime(2024, 1, 1, 11, 0), 7),    # same-ts quote wins -> 110.0
            (2, datetime(2024, 1, 1, 10, 0), 9),    # no earlier quote -> null
            (3, datetime(2024, 1, 1, 12, 0), 2),    # key never quoted -> null
        ],
        ["sym", "ts", "qty"],
    )
    out = {
        (r["sym"], r["qty"]): r["asof_px"]
        for r in asof_join(trades, quotes, ["sym"], "ts", ["px"]).collect()
    }
    assert out == {(1, 5): 100.0, (1, 7): 110.0, (2, 9): None, (3, 2): None}


def test_range_join_inner_matches_theta_join(spark):
    from datetime import datetime, timedelta

    from dbldatagen_spark.functions import range_join

    base = datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [(i, 100 + (i % 3), base + timedelta(minutes=17 * i)) for i in range(60)],
        ["pid", "uid", "ts"],
    )
    ivs = spark.createDataFrame(
        [
            # spans multiple 1h buckets
            (1, 100, base, base + timedelta(hours=3)),
            (2, 101, base + timedelta(hours=2), base + timedelta(hours=5)),
            # zero-length interval: matches only an exact-ts point
            (3, 102, base + timedelta(minutes=34), base + timedelta(minutes=34)),
            # no points inside
            (4, 100, base + timedelta(days=2), base + timedelta(days=2, hours=1)),
        ],
        ["iid", "uid", "start_ts", "end_ts"],
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join(
            pts, ivs, "ts", "start_ts", "end_ts",
            equi_keys=["uid"], bucket_width_seconds=3600,
        ).collect()
    )
    expect = sorted(
        (r["pid"], r["iid"])
        for r in pts.join(
            ivs,
            (pts.uid == ivs.uid)
            & (pts.ts >= ivs.start_ts)
            & (pts.ts <= ivs.end_ts),
        ).collect()
    )
    assert got == expect and len(got) > 0


def test_range_join_left_keeps_unmatched(spark):
    from datetime import datetime, timedelta

    from dbldatagen_spark.functions import range_join

    base = datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [(1, base), (2, base + timedelta(days=7))], ["pid", "ts"]
    )
    ivs = spark.createDataFrame(
        [(10, base - timedelta(hours=1), base + timedelta(hours=1))],
        ["iid", "start_ts", "end_ts"],
    )
    rows = {
        r["pid"]: r["iid"]
        for r in range_join(
            pts, ivs, "ts", "start_ts", "end_ts", how="left"
        ).collect()
    }
    assert rows == {1: 10, 2: None}


def test_range_join_amplification_guard(spark):
    from datetime import datetime, timedelta

    import pytest
    from dbldatagen_spark.functions import range_join

    base = datetime(2024, 1, 1)
    pts = spark.createDataFrame([(1, base)], ["pid", "ts"])
    ivs = spark.createDataFrame(
        [(10, base, base + timedelta(days=365))], ["iid", "start_ts", "end_ts"]
    )
    with pytest.raises(Exception, match="too many buckets"):
        range_join(
            pts, ivs, "ts", "start_ts", "end_ts",
            bucket_width_seconds=60, max_covered_buckets=100,
        ).collect()


def test_salted_join_matches_plain_join(spark):
    from pyspark.sql import functions as F

    from dbldatagen_spark.functions import salted_join

    # 90% of rows share one hot key — the salting target
    large = spark.range(2000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id") % 50).alias("k"),
    )
    small = spark.createDataFrame(
        [(i, f"dim_{i}") for i in range(50)], ["k", "name"]
    )
    got = sorted(
        (r["row_id"], r["name"])
        for r in salted_join(
            large, small, ["k"], salt=8, large_id_col="row_id"
        ).collect()
    )
    expect = sorted(
        (r["row_id"], r["name"]) for r in large.join(small, "k").collect()
    )
    assert got == expect and len(got) == 2000


def test_salted_join_left_keeps_unmatched(spark):
    from dbldatagen_spark.functions import salted_join

    large = spark.createDataFrame([(1, 10), (2, 99)], ["row_id", "k"])
    small = spark.createDataFrame([(10, "x")], ["k", "name"])
    rows = {
        r["row_id"]: r["name"]
        for r in salted_join(
            large, small, ["k"], salt=4, how="left", large_id_col="row_id"
        ).collect()
    }
    assert rows == {1: "x", 2: None}


def test_normalize_and_quantize_embeddings(spark):
    import math

    from pyspark.sql import functions as F

    from dbldatagen_spark.functions import normalize_embeddings, quantize_embeddings
    from dbldatagen_spark.functions.similarity import norm_expr

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, [-1.0, 1.0])],
        ["vec_id", "embedding"],
    )
    norms = {
        r["vec_id"]: r["n"]
        for r in normalize_embeddings(df, "embedding")
        .select("vec_id", F.round(norm_expr(F.col("unit_vec")), 6).alias("n"))
        .collect()
    }
    assert norms[1] == 1.0 and norms[3] == 1.0 and norms[2] == 0.0

    q = quantize_embeddings(df, "embedding", levels=256).collect()
    for r in q:
        assert all(0 <= c <= 255 for c in r["codes"])
        for x, c in zip(r["embedding"], r["codes"]):
            recon = r["q_min"] + c * r["q_scale"]
            # max error of uniform quantization is half a step
            assert math.isclose(x, recon, abs_tol=r["q_scale"] / 2 + 1e-9)


def test_token_vocabulary(spark):
    from dbldatagen_spark.functions import token_vocabulary

    df = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "THE cat runs")], ["doc_id", "text"]
    )
    rows = token_vocabulary(df, "text", top_k=3).collect()
    assert [(r["token"], r["n_occurrences"]) for r in rows] == [
        ("the", 3),
        ("cat", 2),
        ("and", 1),
    ]


def test_token_vocabulary_min_count(spark):
    from dbldatagen_spark.functions import token_vocabulary

    df = spark.createDataFrame([(1, "a a b")], ["doc_id", "text"])
    rows = token_vocabulary(df, "text", top_k=10, min_count=2).collect()
    assert [(r["token"], r["n_occurrences"]) for r in rows] == [("a", 2)]


def test_ngram_counts(spark):
    from dbldatagen_spark.functions import ngram_counts

    df = spark.createDataFrame(
        [(1, "a b c a b"), (2, "a b"), (3, "solo")], ["doc_id", "text"]
    )
    rows = ngram_counts(df, "text", n=2, top_k=10).collect()
    got = {r["ngram"]: r["n_occurrences"] for r in rows}
    # "a b" appears twice in doc 1 and once in doc 2; single-token doc 3
    # contributes nothing
    assert got == {"a b": 3, "b c": 1, "c a": 1}
    assert [r["ngram"] for r in rows][0] == "a b"


def test_assign_training_shards(spark):
    from dbldatagen_spark.functions import assign_training_shards

    df = spark.createDataFrame(
        [(i, " ".join(["w"] * 10)) for i in range(20)], ["doc_id", "text"]
    )
    out = assign_training_shards(
        df, "doc_id", "text", target_tokens=25, num_buckets=2
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == 20
    # bucket = doc_id % 2; within a bucket, 10-token docs pack ~2-3 per
    # 25-token shard (boundary doc joins the shard where its start falls)
    assert all(r["bucket"] == r["doc_id"] % 2 for r in out)
    assert all(r["n_tokens"] == 10 for r in out)
    # doc_ids 0,2,4,...: cumulative starts 0,10,20,30,... -> shards 0,0,0,1,...
    evens = [by_id[i]["shard_id"] for i in [0, 2, 4, 6, 8]]
    assert evens == [0, 0, 0, 1, 1]
    # shard ids are globally unique across buckets (offset by bucket)
    odds = [by_id[i]["shard_id"] for i in [1, 3, 5]]
    assert odds == [1_000_000, 1_000_000, 1_000_000]


def test_assign_training_shards_budget(spark):
    """No shard (except possibly via one boundary doc) wildly exceeds the
    target: each shard's total is < target + max_doc_tokens."""
    from dbldatagen_spark.functions import assign_training_shards

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = assign_training_shards(
        docs, "doc_id", "text", target_tokens=2048, num_buckets=4
    )
    totals = out.groupBy("shard_id").agg(
        F.sum("n_tokens").alias("total"), F.max("n_tokens").alias("mx")
    )
    bad = totals.where(F.col("total") >= 2048 + F.col("mx")).count()
    assert bad == 0


def test_ngram_contamination(spark):
    from dbldatagen_spark.functions import ngram_contamination

    train = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    test = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps far away"),   # shares 5-gram(s)
            (3, "completely different words here now ok"),  # shares none
            (5, "too short"),                              # < n tokens
        ],
        ["doc_id", "text"],
    )
    rows = ngram_contamination(train, test, "doc_id", "text", n=5).collect()
    got = {r["doc_id"]: r["n_shared_ngrams"] for r in rows}
    assert got == {1: 1}  # "the quick brown fox jumps" only


def test_ngram_contamination_case_insensitive(spark):
    from dbldatagen_spark.functions import ngram_contamination

    train = spark.createDataFrame([(0, "A B C D E")], ["doc_id", "text"])
    test = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    rows = ngram_contamination(train, test, "doc_id", "text", n=5).collect()
    assert rows[0]["n_shared_ngrams"] == 1


class TestNgramNovelty:
    def test_commonness_counts_and_ratio(self, spark):
        from dbldatagen_spark.functions import ngram_novelty

        docs = spark.createDataFrame(
            [
                (1, "a b c d e"),        # grams: "a b c", "b c d", "c d e"
                (2, "a b c x y"),        # shares "a b c" with doc 1
                (3, "p q r s"),          # all grams unique to doc 3
                (4, "zz"),               # < n words -> 0 grams, NULL ratio
            ],
            ["doc_id", "text"],
        )
        rows = {r["doc_id"]: r for r in ngram_novelty(
            docs, "doc_id", "text", n=3).collect()}
        assert (rows[1]["n_grams"], rows[1]["n_common"]) == (3, 1)
        assert rows[1]["common_ratio"] == 1.0 / 3.0
        assert (rows[2]["n_grams"], rows[2]["n_common"]) == (3, 1)
        assert (rows[3]["n_grams"], rows[3]["n_common"]) == (2, 0)
        assert rows[3]["common_ratio"] == 0.0
        assert (rows[4]["n_grams"], rows[4]["n_common"]) == (0, 0)
        assert rows[4]["common_ratio"] is None

    def test_duplicate_docs_fully_common_and_threshold(self, spark):
        from dbldatagen_spark.functions import ngram_novelty

        docs = spark.createDataFrame(
            [(i, "one two three four five") for i in range(3)]
            + [(9, "six seven eight nine ten")],
            ["doc_id", "text"],
        )
        out = {r["doc_id"]: r for r in ngram_novelty(
            docs, "doc_id", "text", n=4).collect()}
        for i in range(3):
            assert out[i]["common_ratio"] == 1.0  # exact triplicates
        assert out[9]["common_ratio"] == 0.0
        # threshold 4: the triplicate grams (df=3) no longer count
        strict = {r["doc_id"]: r for r in ngram_novelty(
            docs, "doc_id", "text", n=4, df_threshold=4).collect()}
        assert all(strict[i]["common_ratio"] == 0.0 for i in range(3))

    def test_partition_stability_and_validation(self, spark):
        from dbldatagen_spark.functions import ngram_novelty

        docs = spark.createDataFrame(
            [(i, f"w{i} common words here and w{i+1} more text body")
             for i in range(20)],
            ["doc_id", "text"],
        )
        a = sorted(map(tuple, ngram_novelty(
            docs.repartition(2), "doc_id", "text", n=3).collect()))
        b = sorted(map(tuple, ngram_novelty(
            docs.repartition(7), "doc_id", "text", n=3).collect()))
        assert a == b
        with pytest.raises(ValueError, match="df_threshold"):
            ngram_novelty(docs, "doc_id", "text", df_threshold=0)
        with pytest.raises(ValueError, match="n must"):
            ngram_novelty(docs, "doc_id", "text", n=0)

    def test_edge_whitespace_does_not_shift_grams(self, spark):
        # trim() strips only 0x20: a leading tab/newline used to leave
        # an empty first token that shifted every gram by one; the
        # shared _ngram_word_arr filter makes whitespace-edged twins
        # gram-identical (the anchor_text_profile regression, applied
        # to the n-gram family)
        from dbldatagen_spark.functions import (
            ngram_contamination, ngram_novelty,
        )

        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta"),
                (2, "\talpha beta gamma delta\n"),   # tab/newline-edged twin
                (3, "  \n\t  "),                      # all-whitespace doc
            ],
            ["doc_id", "text"],
        )
        rows = {r["doc_id"]: r for r in ngram_novelty(
            docs, "doc_id", "text", n=3).collect()}
        for i in (1, 2):
            assert (rows[i]["n_grams"], rows[i]["n_common"]) == (2, 2)
            assert rows[i]["common_ratio"] == 1.0
        # all-whitespace doc has ZERO tokens, not one empty gram
        assert (rows[3]["n_grams"], rows[3]["n_common"]) == (0, 0)
        assert rows[3]["common_ratio"] is None
        shared = ngram_contamination(
            docs.where(F.col("doc_id") == 1),
            docs.where(F.col("doc_id") == 2),
            "doc_id", "text", n=3,
        ).collect()
        assert [(r["doc_id"], r["n_shared_ngrams"]) for r in shared] == [
            (2, 2)
        ]


def test_corpus_stats(spark, docs):
    from dbldatagen_spark.functions import corpus_stats

    out = corpus_stats(docs, "lang", "text", rsd=0.02).collect()
    assert len(out) > 0
    for r in out:
        assert r["n_rows"] >= r["exact_distinct"] > 0
        assert abs(r["approx_distinct"] - r["exact_distinct"]) <= max(
            2, 0.06 * r["exact_distinct"]
        )
        assert abs(r["approx_p50_chars"] - r["exact_p50_chars"]) <= max(
            2.0, 0.05 * r["exact_p50_chars"]
        )


def test_embedding_pca(spark, emb):
    import numpy as np
    from dbldatagen_spark.functions import embedding_pca

    projected, comps, expl = embedding_pca(emb, "embedding", k=4)
    # orthonormal components, descending variance
    assert np.abs(comps.T @ comps - np.eye(4)).max() < 1e-9
    assert all(expl[i] >= expl[i + 1] for i in range(3))
    rows = projected.select("pca_vec").collect()
    mat = np.vstack([r["pca_vec"] for r in rows])
    assert mat.shape[1] == 4
    # projected dims are centered and have variance ~ eigenvalues
    assert np.abs(mat.mean(axis=0)).max() < 1e-6
    pv = mat.var(axis=0)
    assert np.allclose(pv, expl, rtol=0.02)


def test_embedding_pca_partition_invariance(spark, emb):
    import numpy as np
    from dbldatagen_spark.functions import embedding_pca

    _, c1, e1 = embedding_pca(emb.repartition(3), "embedding", k=3)
    _, c2, e2 = embedding_pca(emb.repartition(11), "embedding", k=3)
    assert np.allclose(e1, e2, rtol=1e-9)
    assert np.allclose(c1, c2, atol=1e-9)


def test_embedding_moments_match_numpy(spark):
    import numpy as np
    from dbldatagen_spark.functions import embedding_moments

    rng = np.random.default_rng(0)
    data = rng.normal(size=(200, 5))
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(data)], ["i", "v"]
    ).repartition(7)
    n, mean, cov = embedding_moments(df, "v")
    assert n == 200
    assert np.allclose(mean, data.mean(axis=0), atol=1e-12)
    assert np.allclose(cov, np.cov(data.T, bias=True), atol=1e-10)


def test_stop_shingle_cap(spark):
    from dbldatagen_spark.functions import ngram_jaccard_pairs

    # doc 1/2 share a distinctive shingle; docs 3..8 share only one
    # viral boilerplate shingle ("join our mailing list")
    boiler = "join our mailing list"
    rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon")]
    rows += [(i, f"{boiler} unique{i} filler{i} pad{i}") for i in range(3, 9)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = ngram_jaccard_pairs(
        df, "doc_id", "text", k=3, threshold=0.1, max_posting_len=None
    )
    capped = ngram_jaccard_pairs(
        df, "doc_id", "text", k=3, threshold=0.1, max_posting_len=3
    )
    un = {(r["id_a"], r["id_b"]): r["jaccard"] for r in uncapped.collect()}
    cp = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    # the distinctive pair survives the cap
    assert (1, 2) in cp
    # the cut affects blocking only: surviving pairs keep the EXACT
    # jaccard of the uncapped run (intersection from full shingle sets)
    for pair, jac in cp.items():
        assert jac == un[pair]
    # boilerplate-only pairs (blocked solely by the 6-doc shingle) are cut
    assert any(a >= 3 for a, _ in un)
    assert not any(a >= 3 for a, _ in cp)
    # generous cap reproduces the uncapped result exactly
    wide = ngram_jaccard_pairs(
        df, "doc_id", "text", k=3, threshold=0.1, max_posting_len=1000
    )
    assert {(r["id_a"], r["id_b"]) for r in wide.collect()} == set(un)


class TestCandidateDensityGuard:
    """Blocking self-defense: an adversarially dense corpus (tiny
    shared vocabulary — near-all-pairs density with every posting
    individually under the cut) must FAIL LOUDLY with knob guidance
    instead of silently crawling through the verify join."""

    @staticmethod
    def _dense(spark, n=40):
        # every doc shares the same 3-word shingles; df per shingle = n
        rows = [(i, "alpha beta gamma delta epsilon") for i in range(n)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_ngram_jaccard_raises_with_guidance(self, spark):
        from dbldatagen_spark.functions import ngram_jaccard_pairs

        df = self._dense(spark)
        # ~3 shingles x C(40,2) = 2340 candidate pairs > cap=100
        with pytest.raises(ValueError, match="max_posting_len"):
            ngram_jaccard_pairs(
                df, "doc_id", "text", max_posting_len=None,
                max_candidate_pairs=100,
            ).collect()

    def test_containment_exact_and_sketch_raise(self, spark):
        from dbldatagen_spark.functions import (
            containment_pairs, containment_sketch_pairs,
        )

        df = self._dense(spark)
        with pytest.raises(ValueError, match="containment_pairs"):
            containment_pairs(
                df, "doc_id", "text", max_posting_len=None,
                max_candidate_pairs=100,
            )
        with pytest.raises(ValueError, match="containment_sketch_pairs"):
            containment_sketch_pairs(
                df, "doc_id", "text", max_posting_len=None,
                max_candidate_pairs=100,
            )

    def test_cut_postings_do_not_count(self, spark):
        # with the stop cut active the dense postings leave the
        # blocking index, so the SAME corpus passes the guard
        from dbldatagen_spark.functions import ngram_jaccard_pairs

        df = self._dense(spark)
        out = ngram_jaccard_pairs(
            df, "doc_id", "text", max_posting_len=10,
            max_candidate_pairs=100,
        )
        assert out.count() == 0  # every posting was cut: no candidates

    def test_opt_out_and_validation(self, spark):
        from dbldatagen_spark.functions import ngram_jaccard_pairs

        df = self._dense(spark, n=10)
        # None disables the guard: the dense corpus folds through and
        # every pair is an exact duplicate (jaccard 1.0)
        out = ngram_jaccard_pairs(
            df, "doc_id", "text", max_posting_len=None,
            max_candidate_pairs=None,
        )
        assert out.count() == 45
        with pytest.raises(ValueError, match="max_candidate_pairs"):
            ngram_jaccard_pairs(
                df, "doc_id", "text", max_candidate_pairs=0
            )


class TestLshTune:
    def test_known_values(self):
        from dbldatagen_spark.functions import lsh_tune

        assert lsh_tune(0.8, num_hashes=128)[:2] == (32, 4)
        assert lsh_tune(0.7, num_hashes=64)[:2] == (16, 4)
        assert lsh_tune(0.9, num_hashes=128)[:2] == (16, 8)

    def test_curve_brackets_threshold_everywhere(self):
        # for every (threshold, num_hashes) the chosen pair must put the
        # s-curve midpoint at or below the threshold with recall >= target
        from dbldatagen_spark.functions import lsh_tune

        for nh in (16, 32, 64, 128, 256):
            for t10 in range(1, 10):
                t = t10 / 10.0
                b, r, recall, mid = lsh_tune(t, num_hashes=nh)
                assert b * r == nh
                assert recall >= 0.95 or r == 1   # r=1 = max-recall fallback
                assert mid <= t + 1e-12
                # sharper alternative (next-larger divisor r) must MISS
                # the target — i.e. r is maximal
                sharper = [rr for rr in range(r + 1, nh + 1) if nh % rr == 0]
                if sharper and recall >= 0.95:
                    rr = sharper[0]
                    bb = nh // rr
                    assert 1.0 - (1.0 - t ** rr) ** bb < 0.95

    def test_validation(self):
        from dbldatagen_spark.functions import lsh_tune

        with pytest.raises(ValueError, match="threshold"):
            lsh_tune(0.0)
        with pytest.raises(ValueError, match="target_recall"):
            lsh_tune(0.5, target_recall=1.0)
        with pytest.raises(ValueError, match="num_hashes"):
            lsh_tune(0.5, num_hashes=0)

    def test_auto_bands_matches_explicit(self, spark, docs):
        from dbldatagen_spark.functions import minhash_near_duplicates

        auto = minhash_near_duplicates(
            docs, "doc_id", "text", threshold=0.8, num_hashes=128,
            bands="auto",
        )
        explicit = minhash_near_duplicates(
            docs, "doc_id", "text", threshold=0.8, num_hashes=128,
            bands=32,
        )
        assert sorted(map(tuple, auto.collect())) == sorted(
            map(tuple, explicit.collect())
        )


def test_minhash_bucket_cap(spark, docs):
    from dbldatagen_spark.functions import minhash_near_duplicates

    base = minhash_near_duplicates(docs, "doc_id", "text", threshold=0.5)
    wide = minhash_near_duplicates(
        docs, "doc_id", "text", threshold=0.5, max_bucket_len=10_000
    )
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, wide.collect()))


def test_kmeans_fit_and_assign(spark, emb):
    import numpy as np
    from dbldatagen_spark.functions import kmeans_assign, kmeans_fit

    cents, hist = kmeans_fit(emb, "embedding", k=4, id_col="vec_id", max_iter=6)
    assert cents.shape == (4, 64)
    # Lloyd's never increases inertia
    assert all(hist[i] >= hist[i + 1] - 1e-6 for i in range(len(hist) - 1))
    assigned = kmeans_assign(emb, "embedding", cents)
    cells = [r["cell"] for r in assigned.select("cell").distinct().collect()]
    assert set(cells) <= {0, 1, 2, 3}
    # source frame must NOT have been mutated by the schema append
    assert "cell" not in emb.columns
    # assignment is the argmin: spot-check one row against numpy
    row = assigned.where("vec_id = 5").first()
    v = np.asarray(row["embedding"], dtype=float)
    d2 = ((cents - v) ** 2).sum(axis=1)
    assert row["cell"] == int(d2.argmin())


def test_kmeans_partition_invariance(spark, emb):
    import numpy as np
    from dbldatagen_spark.functions import kmeans_fit

    c1, h1 = kmeans_fit(emb.repartition(2), "embedding", k=3, id_col="vec_id", max_iter=4)
    c2, h2 = kmeans_fit(emb.repartition(9), "embedding", k=3, id_col="vec_id", max_iter=4)
    assert np.allclose(c1, c2, atol=1e-9)
    assert np.allclose(h1, h2, rtol=1e-12)


@pytest.mark.parametrize("fit", ["kmeans_fit", "pq_train", "ivfpq_build"])
def test_lloyd_fit_releases_vectors_on_error(spark, fit):
    """A fit that fails mid-loop must still release its persisted
    vector frame: one ragged vector past the k seed rows makes the
    partial-sum batch's ``np.vstack`` raise inside the first iteration."""
    from pyspark.errors import PythonException

    from dbldatagen_spark.functions import similarity

    rows = [(i, [float(i), 1.0, 0.0, 2.0]) for i in range(8)]
    rows.append((8, [1.0, 2.0]))
    df = spark.createDataFrame(rows, "vec_id long, v array<double>").coalesce(1)
    jsc = spark.sparkContext._jsc

    def _ids():
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    lloyd = {"id_col": "vec_id", "max_iter": 3}
    args, kwargs = {
        "kmeans_fit": ((df, "v"), {"k": 2, **lloyd}),
        "pq_train": ((df, "v"), {"m": 2, "k": 2, **lloyd}),
        "ivfpq_build": (
            (df, "vec_id", "v"),
            {"n_cells": 2, "m": 2, "k": 2, "coarse_max_iter": 3, "pq_max_iter": 3},
        ),
    }[fit]
    before = _ids()
    with pytest.raises(PythonException):
        getattr(similarity, fit)(*args, **kwargs)
    assert _ids() - before == set()


def test_tfidf_terms(spark):
    import math

    from dbldatagen_spark.functions import tfidf_terms

    df = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "durian durian durian"),
        ],
        ["doc_id", "text"],
    )
    rows = tfidf_terms(df, "doc_id", "text", top_k_per_doc=2).collect()
    by = {(r["doc_id"], r["token"]): r for r in rows}
    # apple: tf=2 in doc1, df=1, N=3 -> 2*ln(3)
    assert abs(by[(1, "apple")]["tfidf"] - round(2 * math.log(3), 4)) < 1e-9
    assert by[(1, "apple")]["rank"] == 1
    # banana appears in 2 docs -> idf = ln(3/2)
    assert abs(by[(2, "banana")]["tfidf"] - round(math.log(1.5), 4)) < 1e-9
    # durian: tf=3, df=1
    assert abs(by[(3, "durian")]["tfidf"] - round(3 * math.log(3), 4)) < 1e-9


def test_bm25_search(spark):
    from dbldatagen_spark.functions import bm25_search

    df = spark.createDataFrame(
        [
            (1, "spark shuffle spark shuffle spark"),
            (2, "spark is a framework"),
            (3, "nothing relevant here at all"),
        ],
        ["doc_id", "text"],
    )
    rows = bm25_search(df, "doc_id", "text", "spark shuffle", top_k=10).collect()
    ids = [r["doc_id"] for r in rows]
    # doc3 matches nothing; doc1 (both terms, high tf) outranks doc2
    assert ids == [1, 2]
    assert rows[0]["n_terms_matched"] == 2
    assert rows[1]["n_terms_matched"] == 1
    assert rows[0]["bm25"] > rows[1]["bm25"] > 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        bm25_search(df, "doc_id", "text", "   ")


def test_split_assign(spark, docs):
    from dbldatagen_spark.functions import split_assign

    out = split_assign(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7
    )
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    n = docs.count()
    assert sum(counts.values()) == n            # exhaustive and disjoint
    assert counts["train"] > counts.get("val", 0)
    assert abs(counts["train"] / n - 0.8) < 0.1  # 500 docs: loose bound
    # stable under repartitioning
    a = sorted(map(tuple, out.select("doc_id", "split").collect()))
    b = sorted(map(tuple, split_assign(
        docs.repartition(13), "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7
    ).select("doc_id", "split").collect()))
    assert a == b
    # md5 and xxhash64 modes both assign every row exactly one label
    m = split_assign(docs, "doc_id", {"a": 0.5, "b": 0.5}, hash_mode="md5")
    assert m.where(~F.col("split").isin("a", "b")).count() == 0


def test_minhash_cluster_dedup_matches_pair_components(spark, docs):
    from dbldatagen_spark.functions import (
        duplicate_components,
        minhash_cluster_dedup,
        minhash_near_duplicates,
    )

    star = minhash_cluster_dedup(docs, "doc_id", "text", threshold=0.5)
    pairs = minhash_near_duplicates(docs, "doc_id", "text", threshold=0.5)
    comp = {r["vertex"]: r["component"]
            for r in duplicate_components(pairs).collect()}
    got = {r["doc_id"]: r["canonical_id"] for r in star.collect()}
    assert got and len(got) == docs.count()
    # every doc in a pair-verified cluster gets the same canonical label
    for v, c in comp.items():
        assert got[v] == c
    # docs outside any cluster are their own canonical
    for v, c in got.items():
        if v not in comp:
            assert v == c


def test_minhash_cluster_dedup_chain(spark):
    from dbldatagen_spark.functions import minhash_cluster_dedup

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " v2"),
            (3, base + " v2 v3"),
            (10, "completely different content with other words entirely here"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["canonical_id"]
           for r in minhash_cluster_dedup(df, "doc_id", "text", threshold=0.5).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == 10


def test_minhash_cluster_dedup_mega_bucket_skew_safe(spark, monkeypatch):
    """Round-12 skew audit: bucket minima must come from a map-side-
    combined aggregate + join, never an unordered min-window over the
    band bucket — a mega-bucket of mass-identical documents (the
    corpus star contraction exists for) would buffer every member in
    ONE window task. Functional: 120 identical docs all contract to
    the min id; plan (captured on the star-edge frame, which
    duplicate_components otherwise materializes away): no window
    partitioned by the bucket key, partial aggregation present."""
    import dbldatagen_spark.functions.dedup as dedup_mod
    from dbldatagen_spark.functions import minhash_cluster_dedup

    captured = {}
    orig = dedup_mod.duplicate_components

    def spy(edges):
        captured["plan"] = (
            edges._jdf.queryExecution().executedPlan().toString()
        )
        return orig(edges)

    monkeypatch.setattr(dedup_mod, "duplicate_components", spy)

    body = "identical boilerplate page body repeated across the mirror set"
    rows = [(i, body) for i in range(120)]
    rows.append((500, "one unrelated document with entirely different words"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = minhash_cluster_dedup(
        df.repartition(7), "doc_id", "text", threshold=0.5
    )
    got = {r["doc_id"]: r["canonical_id"] for r in out.collect()}
    assert all(got[i] == 0 for i in range(120))
    assert got[500] == 500
    plan = captured["plan"]
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_key#" not in line and "_band#" not in line, line
    assert "partial_min" in plan


def test_redact_pii(spark):
    from dbldatagen_spark.functions import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b@example.com, phone (555) 123-4567, ssn 123-45-6789"),
            (2, "ip 10.0.0.1 card 4111 1111 1111 1111"),
            (3, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in redact_pii(df, "doc_id", "text").collect()}
    assert rows[1]["redacted"] == "mail [EMAIL], phone [PHONE], ssn [SSN]"
    assert (rows[1]["n_email"], rows[1]["n_phone"], rows[1]["n_ssn"]) == (1, 1, 1)
    assert rows[2]["redacted"] == "ip [IP] card [CARD]"
    assert rows[3]["redacted"] == "nothing sensitive here"
    assert rows[3]["n_email"] == 0
    # kind subset: only what was asked for is redacted or counted
    subset = redact_pii(df, "doc_id", "text", kinds=["email"]).collect()
    r1 = next(r for r in subset if r["doc_id"] == 1)
    assert "[EMAIL]" in r1["redacted"] and "123-45-6789" in r1["redacted"]
    assert "n_phone" not in r1.asDict()


def test_repetition_metrics(spark):
    from dbldatagen_spark.functions import repetition_metrics

    df = spark.createDataFrame(
        [
            (1, "dup\ndup\nunique\n\npara\n\npara"),
            (2, "the cat the cat the cat sat"),
            (3, "x"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r for r in repetition_metrics(df, "doc_id", "text").collect()
    }
    # doc 1: 5 nonempty lines, 3 distinct; 3 paragraphs, 2 distinct
    assert abs(rows[1]["dup_line_fraction"] - (1 - 3 / 5)) < 1e-12
    assert abs(rows[1]["dup_paragraph_fraction"] - (1 - 2 / 3)) < 1e-12
    # doc 2: "the cat" appears 3x of 6 bigrams
    assert abs(rows[2]["top_bigram_share"] - 0.5) < 1e-12
    # short/empty docs degrade to zeros, not nulls or errors
    assert rows[3]["top_bigram_share"] == 0.0
    assert rows[4]["dup_line_fraction"] == 0.0


class TestCanonicalizeUrls:
    """Pre-dedup URL normalizer: two crawls of one page must collapse
    to one canonical key; malformed hosts go NULL, never wrong."""

    def _canon(self, spark, urls):
        from dbldatagen_spark.functions import canonicalize_urls

        df = spark.createDataFrame(
            list(enumerate(urls)), "id long, url string"
        )
        return {
            r["id"]: (r["url_canonical"], r["registrable_domain"])
            for r in canonicalize_urls(df, "url").collect()
        }

    def test_variants_of_one_page_collapse(self, spark):
        out = self._canon(spark, [
            "HTTP://WWW.Example.COM:80/a//b/?utm_source=x&b=2&a=1#frag",
            "https://example.com/a/b?a=1&b=2",
            "example.com/a/b/?b=2&a=1&fbclid=abc",
        ])
        assert len({v for v in out.values()}) == 1
        assert out[0] == ("example.com/a/b?a=1&b=2", "example.com")

    def test_edges(self, spark):
        out = self._canon(spark, [
            "https://user:pw@Sub.Shop.co.uk:8080/Path/",  # userinfo, port, case
            "http://192.168.0.1:443/x",                   # IPv4, default port
            "https://blog.example.github.io/post?",       # PSL-ish suffix
            "ftp://files.example.org./data",              # trailing-dot host
            "localhost:8000/api?fbclid=zzz&q=term",       # single label
            "example.com/s?q&UTM_CAMPAIGN=x",             # bare param, upper tracking
            "not a url at all",
            None,
        ])
        assert out[0] == ("sub.shop.co.uk:8080/Path", "shop.co.uk")
        assert out[1] == ("192.168.0.1/x", "192.168.0.1")
        assert out[2] == ("blog.example.github.io/post", "example.github.io")
        assert out[3] == ("files.example.org/data", "example.org")
        assert out[4] == ("localhost:8000/api?q=term", "localhost")
        assert out[5] == ("example.com/s?q", "example.com")
        assert out[6] == (None, None)
        assert out[7] == (None, None)

    def test_map_only_plan(self, spark):
        from dbldatagen_spark.functions import canonicalize_urls

        df = spark.createDataFrame([(1, "https://a.com/x")], "id long, url string")
        plan = canonicalize_urls(df, "url")._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_resource_selecting_params_survive_by_default(self, spark):
        # `ref` selects branches on Git hosting and `spm` routes some
        # storefronts — stripping them would wrongly collapse distinct
        # resources into one dedup key, so the DEFAULT set keeps both
        # (while ref_src, a pure tracking param, still goes)
        out = self._canon(spark, [
            "https://git.example.com/repo/tree?ref=main",
            "https://git.example.com/repo/tree?ref=dev",
            "https://shop.example.com/item?spm=a1.2&ref_src=tw",
        ])
        assert out[0] == ("git.example.com/repo/tree?ref=main", "example.com")
        assert out[1] == ("git.example.com/repo/tree?ref=dev", "example.com")
        assert out[2] == ("shop.example.com/item?spm=a1.2", "example.com")

    def test_tracking_params_override(self, spark):
        from dbldatagen_spark.functions import canonicalize_urls

        df = spark.createDataFrame(
            [(1, "https://x.com/p?ref=main&utm_source=a&sess=9")],
            "id long, url string",
        )
        row = canonicalize_urls(
            df, "url", tracking_params=["ref", "sess"]
        ).collect()[0]
        # the override REPLACES the default set: utm_source survives
        assert row["url_canonical"] == "x.com/p?utm_source=a"


class TestUrlHostExpr:
    """url_host_expr must agree with the host slice of
    canonicalize_urls (the derivation host_authority used before the
    compact chain replaced it) on every URL shape — same host, or
    both NULL."""

    URLS = [
        "HTTP://WWW.Example.COM:80/a//b/?utm_source=x&b=2&a=1#frag",
        "https://example.com/a/b?a=1&b=2",
        "example.com/a/b/?b=2&a=1&fbclid=abc",
        "https://user:pw@Sub.Shop.co.uk:8080/Path/",
        "http://192.168.0.1:443/x",
        "https://blog.example.github.io/post?",
        "ftp://files.example.org./data",
        "localhost:8000/api?fbclid=zzz&q=term",
        "not a url at all",
        "   https://pad.example.net/x   ",
        "https://WWW.ONLY-WWW.com",
        "https://a.com:/empty-port",
        None,
    ]

    def test_parity_with_canonicalize_host_slice(self, spark):
        from dbldatagen_spark.functions import (
            canonicalize_urls,
            url_host_expr,
        )

        df = spark.createDataFrame(
            list(enumerate(self.URLS)), "id long, url string"
        )
        canon = canonicalize_urls(df, "url").withColumn(
            "host_slice",
            F.regexp_extract(F.col("url_canonical"), "^([^/:?]+)", 1),
        )
        rows = canon.withColumn(
            "host_fast", url_host_expr(F.col("url"))
        ).collect()
        for r in rows:
            sliced = r["host_slice"] or None  # '' when canonical NULL
            assert r["host_fast"] == sliced, (r["url"], r["host_fast"], sliced)

    def test_registrable_domain_parity(self, spark):
        from dbldatagen_spark.functions import (
            canonicalize_urls,
            registrable_domain_expr,
            url_host_expr,
        )

        df = spark.createDataFrame(
            list(enumerate(self.URLS)), "id long, url string"
        )
        rows = (
            canonicalize_urls(df, "url")
            .withColumn(
                "dom_fast",
                registrable_domain_expr(url_host_expr(F.col("url"))),
            )
            .collect()
        )
        for r in rows:
            assert r["dom_fast"] == r["registrable_domain"], (
                r["url"], r["dom_fast"], r["registrable_domain"],
            )

    def test_suffix_list_override(self, spark):
        # production PSL path: a user-supplied snapshot changes the
        # collapse under suffixes the built-in 44-entry subset lacks
        from dbldatagen_spark.functions import (
            canonicalize_urls, registrable_domain_expr,
        )

        df = spark.createDataFrame(
            [("shop.example.com.pl",), ("a.b.co.uk",),
             ("w.act.edu.au",), ("plain.com",)], ["h"])
        psl = ["co.uk", "com.pl", "act.edu.au"]
        got = {r["h"]: (r["d0"], r["d1"]) for r in df.select(
            "h",
            registrable_domain_expr(F.col("h")).alias("d0"),
            registrable_domain_expr(F.col("h"), suffix_list=psl).alias("d1"),
        ).collect()}
        # the subset lacks com.pl: default wrongly merges all of
        # .com.pl under one registrant; the snapshot fixes it
        assert got["shop.example.com.pl"] == ("com.pl", "example.com.pl")
        assert got["a.b.co.uk"] == ("b.co.uk", "b.co.uk")
        # 3-label suffix claims 4 labels (longest-match-first)
        assert got["w.act.edu.au"][1] == "w.act.edu.au"
        assert got["plain.com"] == ("plain.com", "plain.com")
        # threads through canonicalize_urls
        urls = spark.createDataFrame(
            [("https://shop.example.com.pl/x",)], ["url"])
        r = canonicalize_urls(urls, "url", suffix_list=psl).collect()[0]
        assert r["registrable_domain"] == "example.com.pl"
        with pytest.raises(ValueError, match="lowercase"):
            registrable_domain_expr(F.col("h"), suffix_list=["Com.PL"])
        with pytest.raises(ValueError, match="2 or 3 labels"):
            registrable_domain_expr(F.col("h"), suffix_list=["com"])
        with pytest.raises(ValueError, match="2 or 3 labels"):
            registrable_domain_expr(F.col("h"), suffix_list=["a.b.c.d"])

    def test_single_reference_chain_compiles_in_aggregate(self, spark):
        # the whole point: as a grouping key the chain must stay
        # inside one whole-stage-codegen partial aggregate
        from dbldatagen_spark.functions import url_host_expr

        df = spark.createDataFrame(
            [(1, "https://a.com/x")], "id long, url string"
        )
        agg = df.groupBy(url_host_expr(F.col("url")).alias("h")).count()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_strip_boilerplate_lines(spark):
    from dbldatagen_spark.functions import strip_boilerplate_lines

    df = spark.createDataFrame(
        [
            (1, "COMMON HEADER\nunique body one\nCOMMON FOOTER"),
            (2, "COMMON HEADER\nanother body\n\nCOMMON FOOTER"),
            (3, "COMMON HEADER\nthird text here\nCOMMON FOOTER"),
            (4, "totally unique doc"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in strip_boilerplate_lines(
            df, "doc_id", "text", min_doc_frac=0.5
        ).collect()
    }
    # header+footer live in 3 of 4 docs (>= ceil(0.5*4)=2) -> stripped
    assert rows[1]["cleaned_text"] == "unique body one"
    assert rows[1]["n_lines_removed"] == 2
    # blank lines are structural: preserved, never treated as boilerplate
    assert rows[2]["cleaned_text"] == "another body\n"
    # untouched docs pass through whole
    assert rows[4]["cleaned_text"] == "totally unique doc"
    assert rows[4]["n_lines_removed"] == 0


def test_ppm_real_decode_roundtrip(spark):
    """encode_ppm -> decode_ppm is exact, and the real feature extractor
    computes true pixel statistics through mapInPandas."""
    import numpy as np

    from dbldatagen_spark.functions.multimodal import (
        decode_ppm,
        encode_ppm,
        extract_image_features,
        synthesize_ppm_table,
    )

    px = np.arange(8 * 4 * 3, dtype=np.uint8).reshape(4, 8, 3)
    assert (decode_ppm(encode_ppm(px)) == px).all()
    # comment lines in the header are legal PPM
    with_comment = b"P6\n# a comment\n8 4\n255\n" + px.tobytes()
    assert (decode_ppm(with_comment) == px).all()

    media = synthesize_ppm_table(spark, rows=50, partitions=3, size=8)
    feats = {r["media_id"]: r for r in extract_image_features(media).collect()}
    assert len(feats) == 50
    assert all(r["width"] == 8 and r["height"] == 8 for r in feats.values())
    # cross-check one row against a local decode
    one = media.where("media_id = 7").collect()[0]
    arr = decode_ppm(bytes(one["payload"])).astype(float)
    assert abs(feats[7]["mean_r"] - arr[:, :, 0].mean()) < 1e-9
    assert abs(feats[7]["std_gray"] - arr.mean(axis=2).std()) < 1e-9


def test_cross_corpus_near_duplicates(spark):
    from dbldatagen_spark.functions import cross_corpus_near_duplicates

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different training text about spark engines"),
        ],
        ["doc_id", "text"],
    )
    test = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog today"),
            (101, "the quick brown fox jumps over the lazy cat today"),
            (102, "nothing like anything in train at all whatsoever"),
        ],
        ["doc_id", "text"],
    )
    pairs = cross_corpus_near_duplicates(
        test, train, "doc_id", "text", threshold=0.5, num_hashes=32, bands=16
    )
    got = sorted((r["query_id"], r["corpus_id"]) for r in pairs.collect())
    assert got == [(100, 1), (101, 1)]
    # the scrub: anti-join the query corpus on contaminated ids
    clean = test.join(
        pairs.select(F.col("query_id").alias("doc_id")).distinct(),
        "doc_id", "left_anti",
    )
    assert {r["doc_id"] for r in clean.collect()} == {102}


class TestNormalizeAndLineDedup:
    def test_normalize_text_folds_typography(self, spark):
        from dbldatagen_spark.functions import normalize_text

        df = spark.createDataFrame(
            [(0, "Hello ‘world’ — it’s  a test…\x07"),
             (1, "tab\tand nbsp"),
             (2, " edge  \n  lines ")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r["normalized_text"]
               for r in normalize_text(df, "doc_id", "text").collect()}
        assert got[0] == "Hello 'world' - it's a test..."
        assert got[1] == "tab and nbsp"
        assert got[2] == "edge\nlines"  # newlines survive, edges trimmed

    def test_normalize_text_is_map_only(self, spark, docs):
        from dbldatagen_spark.functions import normalize_text

        plan = normalize_text(docs, "doc_id", "text")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan.replace("Exchange RoundRobin", "")
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_dedup_lines_first_occurrence_wins(self, spark):
        from dbldatagen_spark.functions import dedup_lines_corpus

        df = spark.createDataFrame(
            [(10, "shared\nkeep10"), (11, "keep11\nshared"),
             (12, "shared\n\nblank kept")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: (r["deduped_text"], r["n_lines_removed"])
               for r in dedup_lines_corpus(df, "doc_id", "text").collect()}
        assert got[10] == ("shared\nkeep10", 0)  # first occurrence
        assert got[11] == ("keep11", 1)
        assert got[12] == ("\nblank kept", 1)  # blank line is structural

    def test_dedup_lines_partition_invariant(self, spark, docs):
        from dbldatagen_spark.functions import dedup_lines_corpus

        a = dedup_lines_corpus(docs.repartition(2), "doc_id", "text")
        b = dedup_lines_corpus(docs.repartition(7), "doc_id", "text")
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    def test_token_entropy_bounds(self, spark):
        from dbldatagen_spark.functions import token_entropy

        df = spark.createDataFrame(
            [(0, "aaa aaa aaa aaa"), (1, "a b c d e f g h"), (2, "x x y y")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in token_entropy(df, "doc_id", "text").collect()}
        assert got[0]["entropy_bits"] == 0.0
        assert got[1]["entropy_bits"] == 3.0  # 8 distinct of 8
        assert got[2]["entropy_bits"] == 1.0  # two 50/50 tokens
        assert got[2]["n_tokens"] == 4 and got[2]["n_distinct_tokens"] == 2

    def test_token_entropy_partition_invariant(self, spark, docs):
        from dbldatagen_spark.functions import token_entropy

        a = token_entropy(docs.repartition(2), "doc_id", "text")
        b = token_entropy(docs.repartition(9), "doc_id", "text")
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


class TestMediaSniffing:
    def test_detects_each_signature(self, spark):
        from dbldatagen_spark.functions import detect_media_types
        from dbldatagen_spark.functions.multimodal import MEDIA_SIGNATURES

        rows = []
        for i, (fmt, off, sig) in enumerate(MEDIA_SIGNATURES):
            prefix = b"RIFF1234" if fmt == "webp" else bytes(off)
            rows.append((i, prefix + sig + b"tail", fmt))
        df = spark.createDataFrame(rows, "media_id long, payload binary, fmt string")
        out = detect_media_types(df, "media_id", "payload")
        got = {r["media_id"]: r["detected_type"] for r in out.collect()}
        for i, (fmt, _, _) in enumerate(MEDIA_SIGNATURES):
            assert got[i] == fmt, f"{fmt}: got {got[i]}"

    def test_mismatch_flags_and_nulls(self, spark):
        from dbldatagen_spark.functions import detect_media_types

        df = spark.createDataFrame(
            [(0, b"%PDF-1.7", "jpeg"),   # mislabeled
             (1, b"garbage!", "png"),    # unknown + mismatch
             (2, None, "jpeg"),          # null payload: never flags
             (3, b"\xff\xd8\xff\xe0", "jpeg")],
            "media_id long, payload binary, declared string",
        )
        out = detect_media_types(df, "media_id", "payload",
                                 declared_col="declared")
        got = {r["media_id"]: (r["detected_type"], r["type_mismatch"])
               for r in out.collect()}
        assert got[0] == ("pdf", True)
        assert got[1] == ("unknown", True)
        assert got[2] == (None, False)
        assert got[3] == ("jpeg", False)

    def test_map_only_plan(self, spark):
        from dbldatagen_spark.functions import detect_media_types

        df = spark.createDataFrame(
            [(0, b"\x89PNG\r\n\x1a\n", "png")],
            "media_id long, payload binary, declared string",
        )
        plan = detect_media_types(df, "media_id", "payload",
                                  declared_col="declared") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestPackingAndMixing:
    def _docs(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def test_pack_sequences_gapless_prefix_sum(self, spark):
        from dbldatagen_spark.functions import pack_sequences

        packed = pack_sequences(self._docs(spark), "doc_id", "n_chars", 1024,
                                num_shards=4)
        rows = packed.collect()
        assert len(rows) == self._docs(spark).count()
        by_shard = {}
        for r in rows:
            by_shard.setdefault(r["shard"], []).append(r)
        for shard, docs in by_shard.items():
            docs.sort(key=lambda r: r["start_offset"])
            pos = 0
            for r in docs:
                assert r["start_offset"] == pos, f"gap in shard {shard}"
                pos += r["n_tokens"]
                assert r["first_seq"] == r["start_offset"] // 1024
                if r["n_tokens"] > 0:
                    assert r["last_seq"] == (r["start_offset"] + r["n_tokens"] - 1) // 1024
                assert r["n_seqs"] == r["last_seq"] - r["first_seq"] + 1

    def test_pack_sequences_partition_independent(self, spark):
        from dbldatagen_spark.functions import pack_sequences

        docs = self._docs(spark)
        a = sorted(map(tuple, pack_sequences(docs.repartition(3), "doc_id",
                                             "n_chars", 512, num_shards=4).collect()))
        b = sorted(map(tuple, pack_sequences(docs.repartition(11), "doc_id",
                                             "n_chars", 512, num_shards=4).collect()))
        assert a == b

    def test_pack_sequences_md5_matches_duckdb(self, spark):
        import duckdb
        from dbldatagen_spark.functions import pack_sequences

        got = sorted(
            (r["doc_id"], r["shard"], r["start_offset"])
            for r in pack_sequences(self._docs(spark), "doc_id", "n_chars",
                                    2048, num_shards=8, hash_mode="md5").collect()
        )
        con = duckdb.connect()
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    "read_parquet('/root/testdata/sf0.001/documents.parquet')")
        want = sorted(map(tuple, con.execute("""
            WITH b AS (
              SELECT doc_id, n_chars,
                ('0x'||substr(md5('42-'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 8 AS shard,
                md5('43-'||CAST(doc_id AS VARCHAR)) AS ord
              FROM documents)
            SELECT doc_id, CAST(shard AS BIGINT),
              CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY shard ORDER BY ord, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            FROM b
        """).fetchall()))
        assert got == want

    def test_packing_stats(self, spark):
        from pyspark.sql import functions as F2
        from dbldatagen_spark.functions import pack_sequences, packing_stats

        packed = pack_sequences(self._docs(spark), "doc_id", "n_chars", 1000,
                                num_shards=4)
        stats = {r["shard"]: r for r in packing_stats(packed, 1000).collect()}
        tots = {r["shard"]: r["tot"] for r in
                packed.groupBy("shard").agg(F2.sum("n_tokens").alias("tot")).collect()}
        for shard, tot in tots.items():
            s = stats[shard]
            assert s["total_tokens"] == tot
            assert s["n_sequences"] == -(-tot // 1000)
            waste = 0.0 if tot % 1000 == 0 else 1.0 - (tot % 1000) / 1000.0
            assert abs(s["tail_waste_frac"] - waste) < 1e-12

    def test_mix_corpus_rates(self, spark):
        from dbldatagen_spark.functions import mix_corpus

        docs = self._docs(spark)
        mixed = mix_corpus(docs, "doc_id", "source",
                           {"src0": 0.0, "src1": 1.0, "src2": 3.0})
        per = {r["source"]: r["cnt"] for r in
               mixed.groupBy("source").count().withColumnRenamed("count", "cnt").collect()}
        base = {r["source"]: r["cnt"] for r in
                docs.groupBy("source").count().withColumnRenamed("count", "cnt").collect()}
        assert "src0" not in per                      # rate 0 drops
        assert per["src1"] == base["src1"]            # rate 1 keeps exactly
        assert per["src2"] == 3 * base["src2"]        # integer rate: exact copies
        assert set(per) == {"src1", "src2"}           # unlisted sources dropped
        epochs = {r["epoch"] for r in mixed.where("source='src2'").select("epoch").collect()}
        assert epochs == {0, 1, 2}

    def test_mix_corpus_fractional_and_deterministic(self, spark):
        from dbldatagen_spark.functions import mix_corpus

        docs = self._docs(spark)
        w = {"src0": 0.5, "src1": 1.5}
        a = sorted(map(tuple, mix_corpus(docs.repartition(2), "doc_id", "source", w).collect()))
        b = sorted(map(tuple, mix_corpus(docs.repartition(7), "doc_id", "source", w).collect()))
        assert a == b
        # different seed -> different subset (overwhelmingly likely)
        c = sorted(map(tuple, mix_corpus(docs, "doc_id", "source", w, seed=7).collect()))
        assert c != a

    def test_mix_corpus_plan_no_shuffle(self, spark):
        from dbldatagen_spark.functions import mix_corpus

        plan = mix_corpus(self._docs(spark), "doc_id", "source",
                          {"src0": 2.5})._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan
        assert "Python" not in plan

    def test_validation(self, spark):
        import pytest as _pytest
        from dbldatagen_spark.functions import mix_corpus, pack_sequences

        docs = self._docs(spark)
        with _pytest.raises(ValueError):
            mix_corpus(docs, "doc_id", "source", {})
        with _pytest.raises(ValueError):
            mix_corpus(docs, "doc_id", "source", {"src0": -1})
        with _pytest.raises(ValueError):
            pack_sequences(docs, "doc_id", "n_chars", 0)
        with _pytest.raises(ValueError):
            pack_sequences(docs, "doc_id", "n_chars", 10, num_shards=0)


class TestPpmResize:
    def test_nearest_neighbor_exact(self, spark):
        import numpy as np
        from dbldatagen_spark.functions import resize_ppm_images
        from dbldatagen_spark.functions.multimodal import (
            decode_ppm,
            synthesize_ppm_table,
        )

        media = synthesize_ppm_table(spark, rows=20, partitions=2, size=8)
        orig = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
        out = resize_ppm_images(media, target_width=6, target_height=4).collect()
        assert len(out) == 20
        for r in out:
            assert (r["width"], r["height"]) == (6, 4)
            assert (r["orig_width"], r["orig_height"]) == (8, 8)
            px = decode_ppm(bytes(r["payload"]))
            assert px.shape == (4, 6, 3)
            src = decode_ppm(orig[r["media_id"]])
            ys = (np.arange(4) * 8) // 4
            xs = (np.arange(6) * 8) // 6
            assert (px == src[ys][:, xs]).all()

    def test_upscale_and_validation(self, spark):
        import pytest as _pytest
        from dbldatagen_spark.functions import resize_ppm_images
        from dbldatagen_spark.functions.multimodal import (
            decode_ppm,
            synthesize_ppm_table,
        )

        media = synthesize_ppm_table(spark, rows=3, partitions=1, size=4)
        up = resize_ppm_images(media, target_width=8, target_height=8).collect()
        for r in up:
            assert decode_ppm(bytes(r["payload"])).shape == (8, 8, 3)
        with _pytest.raises(ValueError):
            resize_ppm_images(media, target_width=0, target_height=4)


class TestCharLmScore:
    def test_gibberish_scores_higher(self, spark):
        from dbldatagen_spark.functions import charlm_score

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        probe = spark.createDataFrame(
            [(1, "the window scan over sorted columns runs in order"),
             (2, "zq xv jk qx wz vq kj zx qq vv"),
             (3, "a"), (4, "")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: (r["n_bigrams"], r["bits_per_char"])
               for r in charlm_score(probe, "doc_id", "text", fit_df=docs).collect()}
        assert got[2][1] > got[1][1]
        assert got[3] == (0, None) and got[4] == (0, None)
        assert got[1][0] == 48  # len-1 bigrams

    def test_partition_independent_and_self_fit(self, spark):
        from dbldatagen_spark.functions import charlm_score

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = sorted(map(tuple, charlm_score(docs.repartition(3), "doc_id", "text").collect()))
        b = sorted(map(tuple, charlm_score(docs.repartition(11), "doc_id", "text").collect()))
        assert a == b and len(a) == docs.count()
        assert all(r[2] is not None and 0 < r[2] < 8 for r in a)

    def test_smoothing_validation(self, spark):
        import pytest as _pytest
        from dbldatagen_spark.functions import charlm_score

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        with _pytest.raises(ValueError):
            charlm_score(docs, "doc_id", "text", k=0)

    def test_scoring_side_no_python_or_explode(self, spark):
        from dbldatagen_spark.functions import charlm_score

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = charlm_score(docs, "doc_id", "text")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Python" not in plan
        # the only Generate (explode) belongs to the charset-bounded fit
        # aggregation, never to the scored corpus
        assert plan.count("Generate explode") <= 1


class TestDuplicatedSpans:
    def test_planted_boilerplate_detected(self, spark):
        from dbldatagen_spark.functions import duplicated_span_stats

        bp = "this software is provided as is without warranty of any kind"
        docs = spark.createDataFrame(
            [(1, bp + " alpha beta gamma delta epsilon zeta eta theta iota kappa"),
             (2, "unrelated opening words here now " + bp),
             (3, "completely different text with no shared spans at all ok yes"),
             (4, "tiny")],
            "doc_id long, text string",
        )
        r = {x["doc_id"]: x for x in duplicated_span_stats(
            docs, "doc_id", "text", window=10, stride=5).collect()}
        assert r[1]["n_dup_spans"] >= 1 and r[2]["n_dup_spans"] >= 1
        assert r[3]["n_dup_spans"] == 0
        assert r[4] ["n_spans"] == 1  # short doc -> whole text is one span
        assert abs(r[1]["dup_span_fraction"] - r[1]["n_dup_spans"] / r[1]["n_spans"]) < 1e-4

    def test_stride_and_min_count(self, spark):
        from dbldatagen_spark.functions import duplicated_span_stats

        ten = " ".join(f"w{i}" for i in range(10))
        docs = spark.createDataFrame(
            [(i, ten) for i in range(3)], "doc_id long, text string"
        )
        # span appears 3x; min_count=4 -> nothing flagged
        r = duplicated_span_stats(docs, "doc_id", "text", window=10,
                                  stride=10, min_count=4).collect()
        assert all(x["n_dup_spans"] == 0 for x in r)
        r2 = duplicated_span_stats(docs, "doc_id", "text", window=10,
                                   stride=10, min_count=3).collect()
        assert all(x["n_dup_spans"] == 1 for x in r2)

    def test_partition_independent_md5_xxhash_agree(self, spark):
        from dbldatagen_spark.functions import duplicated_span_stats

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = sorted(map(tuple, duplicated_span_stats(
            docs.repartition(3), "doc_id", "text").collect()))
        b = sorted(map(tuple, duplicated_span_stats(
            docs.repartition(9), "doc_id", "text").collect()))
        c = sorted(map(tuple, duplicated_span_stats(
            docs, "doc_id", "text", hash_mode="md5").collect()))
        assert a == b == c  # stats identical whichever hash keys the counts

    def test_validation(self, spark):
        import pytest as _pytest
        from dbldatagen_spark.functions import duplicated_span_stats

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        with _pytest.raises(ValueError):
            duplicated_span_stats(docs, "doc_id", "text", window=0)
        with _pytest.raises(ValueError):
            duplicated_span_stats(docs, "doc_id", "text", min_count=1)


class TestSubstringDedup:
    """Lee et al. 2022 ExactSubstr applied: maximal duplicated token
    spans are located via the k-gram cover and removed from EVERY
    occurrence (the paper's remove-all-copies rule)."""

    LICENSE = ("this document is licensed under the creative commons "
               "attribution license version four")

    def _docs(self, spark):
        return spark.createDataFrame(
            [(1, "alpha beta " + self.LICENSE + " gamma delta"),
             (2, "unrelated words here " + self.LICENSE
                 + " trailing content words"),
             (3, "totally unique text with no duplication at all"),
             (4, self.LICENSE),
             (5, "ti ny")],
            "doc_id long, text string",
        )

    @staticmethod
    def _py_spans(texts, k, min_count=2):
        # brute-force coverage reference: position covered iff its
        # k-gram occurs >= min_count times corpus-wide
        from collections import Counter

        toks = {i: t.split() for i, t in texts}
        c = Counter()
        for w in toks.values():
            for i in range(len(w) - k + 1):
                c[" ".join(w[i:i + k])] += 1
        spans = {}
        for i, w in toks.items():
            covered = set()
            for p in range(len(w) - k + 1):
                if c[" ".join(w[p:p + k])] >= min_count:
                    covered.update(range(p, p + k))
            runs, cur = [], None
            for t in sorted(covered):
                if cur and t == cur[1] + 1:
                    cur[1] = t
                else:
                    cur = [t, t]
                    runs.append(cur)
            spans[i] = [(a + 1, b + 1) for a, b in runs]  # 1-based
        return spans

    def test_planted_license_spans_and_removal(self, spark):
        from dbldatagen_spark.functions import (
            substring_dedup, substring_dedup_spans,
        )

        df = self._docs(spark)
        texts = [(r["doc_id"], r["text"]) for r in df.collect()]
        want = self._py_spans(texts, k=5)
        got = {}
        for r in substring_dedup_spans(df, "doc_id", "text", k=5).collect():
            got.setdefault(r["doc_id"], []).append(
                (r["span_start"], r["span_end"])
            )
        for i in got:
            got[i] = sorted(got[i])
        assert got == {i: s for i, s in want.items() if s}
        # all 12 license tokens removed from every occurrence
        out = {r["doc_id"]: r for r in substring_dedup(
            df, "doc_id", "text", k=5).collect()}
        assert out[1]["deduped_text"] == "alpha beta gamma delta"
        assert out[2]["deduped_text"] == \
            "unrelated words here trailing content words"
        assert out[4]["deduped_text"] == ""   # whole doc was duplicate
        assert out[4]["n_tokens_removed"] == 12
        assert out[3]["n_tokens_removed"] == 0
        assert out[5]["deduped_text"] == "ti ny"  # shorter than k

    def test_adjacent_duplicated_kgrams_stitch(self, spark):
        # two docs share two DIFFERENT k-grams that sit adjacent in a
        # third doc: the third doc's covered intervals merge into one
        # maximal span even though no single source repeats the whole
        from dbldatagen_spark.functions import substring_dedup_spans

        a = "q w e r t"     # 5 tokens, k=5 -> one k-gram
        b = "y u i o p"
        df = spark.createDataFrame(
            [(1, a), (2, b), (3, a + " " + b)],
            "doc_id long, text string",
        )
        got = {(r["doc_id"], r["span_start"], r["span_end"])
               for r in substring_dedup_spans(
                   df, "doc_id", "text", k=5).collect()}
        assert (3, 1, 10) in got  # stitched, not two 5-token spans

    def test_corpus_run_partition_stable(self, spark):
        from dbldatagen_spark.functions import substring_dedup_spans

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet")
        a = sorted(map(tuple, substring_dedup_spans(
            docs.repartition(3), "doc_id", "text", k=8).collect()))
        b = sorted(map(tuple, substring_dedup_spans(
            docs.repartition(11), "doc_id", "text", k=8).collect()))
        assert a == b and len(a) > 0  # natural dups exist in testdata

    def test_validation(self, spark):
        from dbldatagen_spark.functions import substring_dedup_spans

        df = self._docs(spark)
        with pytest.raises(ValueError, match="k must be"):
            substring_dedup_spans(df, "doc_id", "text", k=1)
        with pytest.raises(ValueError, match="min_count"):
            substring_dedup_spans(df, "doc_id", "text", min_count=1)

    def test_input_spans_column_survives(self, spark):
        """An input that already carries a _spans column (output of
        another stats op) must pass through untouched — the internal
        span array uses a collision-free name."""
        from dbldatagen_spark.functions import substring_dedup

        df = self._docs(spark).withColumn("_spans", F.lit("keepme"))
        out = substring_dedup(df, "doc_id", "text", k=5)
        rows = {r["doc_id"]: r["_spans"] for r in out.collect()}
        assert set(rows.values()) == {"keepme"}

    def test_output_collision_raises(self, spark):
        from dbldatagen_spark.functions import substring_dedup

        df = self._docs(spark).withColumn("n_tokens", F.lit(0))
        with pytest.raises(ValueError, match="already exist"):
            substring_dedup(df, "doc_id", "text", k=5)

    def test_skew_safe_single_pass_plan(self, spark):
        """The duplicated-k-gram count must be a map-side-combined
        aggregate + join over the PERSISTED k-gram stream — never a
        window over the hash (a window buffers every occurrence of one
        viral k-gram in a single task's group, and AQE skew-splitting
        does not apply to windows), and never an unpersisted join (the
        two branches would re-tokenize + re-hash the corpus)."""
        from dbldatagen_spark.functions import substring_dedup_spans

        df = self._docs(spark)
        out = substring_dedup_spans(df, "doc_id", "text", k=5)
        out.collect()  # executed plan with AQE final stages
        plan = out._jdf.queryExecution().executedPlan().toString()
        # tokenize+hash lives ONLY inside the single cached relation —
        # the printer re-inlines that relation's definition at every
        # scan site, so assert all md5 lines are the SAME projection
        # (one compute, N cache reads) rather than counting them
        md5_lines = {
            line.strip().lstrip(":+- ")
            for line in plan.splitlines()
            if "md5" in line
        }
        assert len(md5_lines) == 1, md5_lines
        assert "InMemoryRelation" in plan and "TableCacheQueryStage" in plan
        # map-side combine on the k-gram hash count
        assert "partial_count" in plan
        # every window in the plan partitions by the doc id, never the
        # k-gram hash (the skew hazard the aggregate form removes)
        for line in plan.splitlines():
            if "windowspecdefinition" in line:
                assert "_h#" not in line, line

    def test_viral_kgram_half_corpus(self, spark):
        """Hot-key stress: one k-gram planted in half the corpus (the
        boilerplate/license-header shape the operator exists for) must
        still yield exact spans — its rows stream through a partial
        aggregate and a join, not a single buffered window group."""
        from dbldatagen_spark.functions import substring_dedup_spans

        viral = "all rights reserved by the owner"  # 6 tokens
        rows = []
        for i in range(200):
            filler = " ".join(f"u{i}t{j}" for j in range(8))
            if i % 2 == 0:
                rows.append((i, f"{filler} {viral}"))
            else:
                rows.append((i, filler))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in substring_dedup_spans(
                df.repartition(7), "doc_id", "text", k=6
            ).collect()
        }
        want = {(i, 9, 14) for i in range(0, 200, 2)}
        assert got == want


class TestGopherFlags:
    def test_rules_fire_individually(self, spark):
        from dbldatagen_spark.functions import gopher_quality_flags

        good = ("the quick brown fox jumps over the lazy dog "
                "and that is fine to see ") * 5
        probe = spark.createDataFrame(
            [(1, good),
             (2, "word " * 30),                    # < 50 words
             (3, ("• item one\n" * 10) + good),    # bullet-heavy
             (4, good.replace("the", "###")),      # symbol ratio
             (5, " ".join(["1234"] * 60))],        # no alpha, no stops
            "doc_id long, text string",
        )
        r = {x["doc_id"]: x for x in
             gopher_quality_flags(probe, "doc_id", "text").collect()}
        assert r[1]["pass_all"]
        assert not r[2]["ok_word_count"]
        assert not r[3]["ok_bullet_lines"]
        assert not r[4]["ok_symbol_ratio"]
        assert not r[5]["ok_alpha_words"] and not r[5]["ok_stop_words"]

    def test_map_only_plan_and_thresholds(self, spark):
        from dbldatagen_spark.functions import gopher_quality_flags

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = gopher_quality_flags(docs, "doc_id", "text", min_words=1)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Python" not in plan
        rows = out.collect()
        assert len(rows) == docs.count()
        # threshold override actually loosens the rule
        strict = {r["doc_id"]: r["ok_word_count"] for r in
                  gopher_quality_flags(docs, "doc_id", "text",
                                       min_words=10**6).collect()}
        assert not any(strict.values())


class TestDsirImportance:
    def test_target_domain_docs_weight_higher(self, spark):
        from pyspark.sql import functions as F2
        from dbldatagen_spark.functions import dsir_importance

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        target = docs.where(F2.col("source") == "src0")
        out = dsir_importance(docs, "doc_id", "text", target)
        joined = out.join(docs.select("doc_id", "source"), "doc_id")
        means = {r["in_target"]: r["m"] for r in (
            joined.groupBy((F2.col("source") == "src0").alias("in_target"))
            .agg(F2.avg("log2_weight").alias("m")).collect())}
        # docs from the target domain must look more target-like on average
        assert means[True] > means[False]

    def test_self_target_weights_zero(self, spark):
        from dbldatagen_spark.functions import dsir_importance

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = dsir_importance(docs, "doc_id", "text", docs)
        assert out.where("log2_weight != 0.0").count() == 0


class TestSemanticDedup:
    def test_min_id_survives_and_methods_run(self, spark):
        from dbldatagen_spark.functions import semantic_dedup

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        for kw in (dict(cluster_col="label", threshold=0.45),
                   dict(method="kmeans", k=8, threshold=0.45),
                   dict(method="lsh", num_planes=8, threshold=0.45)):
            out = semantic_dedup(emb, "vec_id", "embedding", **kw)
            rows = out.collect()
            assert len(rows) == emb.count()
            by_cluster = {}
            for r in rows:
                by_cluster.setdefault(r["cluster"], []).append(r)
            for members in by_cluster.values():
                # the smallest id in a cluster can never be dropped
                assert min(members, key=lambda r: r["vec_id"])["keep"]

    def test_planted_duplicate_dropped(self, spark):
        from dbldatagen_spark.functions import semantic_dedup

        rows = [(0, [1.0, 0.0, 0.0], 0),
                (1, [1.0, 0.001, 0.0], 0),   # near-identical to 0
                (2, [0.0, 1.0, 0.0], 0),
                (3, [0.0, 0.0, 1.0], 1)]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int")
        got = {r["vec_id"]: r["keep"] for r in semantic_dedup(
            emb, "vec_id", "embedding", cluster_col="label",
            threshold=0.95).collect()}
        assert got == {0: True, 1: False, 2: True, 3: True}

    def test_validation(self, spark):
        import pytest as _pytest
        from dbldatagen_spark.functions import semantic_dedup

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        with _pytest.raises(ValueError):
            semantic_dedup(emb, "vec_id", "embedding", method="nope")
        with _pytest.raises(ValueError):
            semantic_dedup(emb, "vec_id", "embedding", cluster_col="label",
                           max_cluster_size=0)

    def test_string_cluster_labels(self, spark):
        # regression: cluster_col used to cast('long'), which throws under
        # ANSI for non-numeric labels (topic/shard strings are the
        # documented use case)
        from dbldatagen_spark.functions import semantic_dedup

        rows = [(0, [1.0, 0.0], "news"),
                (1, [1.0, 0.001], "news"),     # near-dup of 0, same topic
                (2, [1.0, 0.0], "sports"),     # identical vector, other topic
                (3, [0.0, 1.0], "news")]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, topic string")
        got = {r["vec_id"]: (r["cluster"], r["keep"])
               for r in semantic_dedup(emb, "vec_id", "embedding",
                                       cluster_col="topic",
                                       threshold=0.95).collect()}
        assert got[0] == ("news", True)
        assert got[1] == ("news", False)     # dropped inside its topic
        assert got[2] == ("sports", True)    # cross-topic never compared
        assert got[3] == ("news", True)

    def test_max_cluster_size_resplits_skewed_cluster(self, spark):
        # planted skew: one giant cluster, orthogonal vectors inside it —
        # the cap must re-split the comparison key while keep-decisions
        # for genuinely identical vectors survive (same signature bits)
        from dbldatagen_spark.functions import semantic_dedup

        rows = [(i, [1.0 + 0.0001 * 0, 0.0, 0.0], 0) for i in range(20)]
        rows += [(100 + i, [0.0, 1.0, 0.0], 0) for i in range(20)]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int")
        out = semantic_dedup(emb, "vec_id", "embedding", cluster_col="label",
                             threshold=0.95, max_cluster_size=25).collect()
        assert len(out) == 40
        by_keep = {r["vec_id"]: r["keep"] for r in out}
        # identical vectors share every hyperplane bit, so each identical
        # family still dedups to exactly one survivor per comparison block;
        # at minimum the global min id of each family must be kept
        assert by_keep[0] and by_keep[100]
        dropped = [v for v, k in by_keep.items() if not k]
        assert len(dropped) >= 36  # 38 duplicates, re-split may keep ~1 extra per block

    def test_max_cluster_size_noop_when_under_cap(self, spark):
        from dbldatagen_spark.functions import semantic_dedup

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        base = semantic_dedup(emb, "vec_id", "embedding", cluster_col="label",
                              threshold=0.45).orderBy("vec_id").collect()
        capped = semantic_dedup(emb, "vec_id", "embedding", cluster_col="label",
                                threshold=0.45,
                                max_cluster_size=10**9).orderBy("vec_id").collect()
        assert base == capped


class TestLengthHistogram:
    def test_buckets_exact_at_power_boundaries(self, spark):
        from dbldatagen_spark.functions import sequence_length_histogram

        df = spark.createDataFrame(
            [(i, n) for i, n in enumerate([0, 1, 2, 3, 4, 7, 8, 1023, 1024, 4096])],
            "doc_id long, n long",
        )
        got = {r["bucket"]: (r["bucket_lo"], r["bucket_hi"], r["n_docs"],
                             r["total_tokens"])
               for r in sequence_length_histogram(df, "n").collect()}
        assert got[-1] == (0, 1, 1, 0)          # zero-length doc
        assert got[0] == (1, 2, 1, 1)
        assert got[1] == (2, 4, 2, 5)           # 2, 3
        assert got[2] == (4, 8, 2, 11)          # 4, 7
        assert got[3] == (8, 16, 1, 8)          # exactly 8 -> bucket 3, not 2
        assert got[9] == (512, 1024, 1, 1023)
        assert got[10] == (1024, 2048, 1, 1024) # power boundary exact
        assert got[12] == (4096, 8192, 1, 4096)

    def test_conservation(self, spark):
        from pyspark.sql import functions as F2
        from dbldatagen_spark.functions import sequence_length_histogram

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        h = sequence_length_histogram(docs, "n_chars")
        tot = h.agg(F2.sum("n_docs"), F2.sum("total_tokens")).first()
        want = docs.agg(F2.count("*"), F2.sum("n_chars")).first()
        assert (tot[0], tot[1]) == (want[0], want[1])


class TestWavAudio:
    def test_roundtrip_and_chunk_walk(self, spark):
        import numpy as np
        import struct
        from dbldatagen_spark.functions.multimodal import decode_wav, encode_wav

        s = np.array([0, 1, -1, 32767, -32768, 12345], dtype=np.int16)
        dec, rate = decode_wav(encode_wav(s, 22050))
        assert rate == 22050 and (dec == s).all()
        # extra LIST chunk before data must be skipped
        payload = encode_wav(s, 8000)
        head, data = payload[:36], payload[36:]
        extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
        dec2, rate2 = decode_wav(head + extra + data)
        assert rate2 == 8000 and (dec2 == s).all()

    def test_feature_extraction_invariants(self, spark):
        from dbldatagen_spark.functions import extract_audio_features
        from dbldatagen_spark.functions.multimodal import synthesize_wav_table

        media = synthesize_wav_table(spark, rows=30, partitions=2)
        feats = extract_audio_features(media).collect()
        assert len(feats) == 30
        for r in feats:
            assert r["sample_rate"] == 16000 and r["n_samples"] == 800
            assert abs(r["duration_ms"] - 50.0) < 1e-9
            assert 0.2 < r["rms"] < 0.7 and r["peak"] <= 1.0
            assert 0.0 < r["zero_crossing_rate"] < 0.7

    def test_rejects_non_pcm(self, spark):
        import pytest as _pytest
        from dbldatagen_spark.functions.multimodal import decode_wav

        with _pytest.raises(ValueError):
            decode_wav(b"RIFF\x00\x00\x00\x00AVI ")
        with _pytest.raises(ValueError):
            decode_wav(b"garbage")


class TestVideoFrames:
    def test_roundtrip_and_sampling(self, spark):
        import numpy as np
        from dbldatagen_spark.functions import sample_video_frames
        from dbldatagen_spark.functions.multimodal import (
            decode_ppm_video,
            encode_ppm_video,
            synthesize_ppm_video_table,
        )

        frames = [np.full((4, 6, 3), i * 7, dtype=np.uint8) for i in range(5)]
        dec = decode_ppm_video(encode_ppm_video(frames))
        assert len(dec) == 5
        assert all((a == b).all() for a, b in zip(frames, dec))

        media = synthesize_ppm_video_table(spark, rows=20, partitions=2,
                                           n_frames=12)
        out = sample_video_frames(media, every_n=4).collect()
        assert len(out) == 20 * 3
        assert all(r["frame_idx"] in (0, 4, 8) and r["n_frames"] == 12
                   for r in out)
        by = {}
        for r in out:
            by.setdefault(r["media_id"], {})[r["frame_idx"]] = r["mean_brightness"]
        # planted brightness ramp survives decode
        assert all(d[0] < d[4] < d[8] for d in by.values())

    def test_validation(self, spark):
        import pytest as _pytest
        from dbldatagen_spark.functions import sample_video_frames
        from dbldatagen_spark.functions.multimodal import (
            decode_ppm_video,
            synthesize_ppm_video_table,
        )

        with _pytest.raises(ValueError):
            decode_ppm_video(b"NOTPPM")
        media = synthesize_ppm_video_table(spark, rows=1, partitions=1)
        with _pytest.raises(ValueError):
            sample_video_frames(media, every_n=0)

    def test_externally_produced_headers_stay_in_sync(self, spark):
        # regression: the stream used to advance by len(encode_ppm(frame)),
        # assuming every frame header is byte-identical to our canonical
        # encoder output — external P6 with comments or extra whitespace
        # desynchronized. Now we advance by the bytes actually consumed.
        import numpy as np
        from dbldatagen_spark.functions.multimodal import decode_ppm_video

        f0 = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
        f1 = (f0 + 100).astype(np.uint8)
        # frame 0: comment line + CRLF-ish extra whitespace in the header;
        # frame 1: multi-space separators — neither matches encode_ppm output
        stream = (
            b"P6\n# produced by an external tool\n3 2\n255\n" + f0.tobytes()
            + b"P6  3\t2\n# trailing comment\n255 " + f1.tobytes()
        )
        dec = decode_ppm_video(stream)
        assert len(dec) == 2
        assert (dec[0] == f0).all()
        assert (dec[1] == f1).all()

    def test_truncated_payload_raises(self, spark):
        import pytest as _pytest
        from dbldatagen_spark.functions.multimodal import decode_ppm

        with _pytest.raises(ValueError):
            decode_ppm(b"P6\n4 4\n255\n\x00\x01")


class TestFuzzyMatchRecords:
    def test_planted_variants_match(self, spark):
        from dbldatagen_spark.functions import fuzzy_match_records

        probe = spark.createDataFrame(
            [(1, "John Smith"), (2, "John Smyth"), (3, "John  Smith"),
             (4, "Jane Doe"), (5, " jane doe"), (6, "Completely Other")],
            "rec_id long, name string",
        )
        pairs = {(r["id_a"], r["id_b"]): r["distance"]
                 for r in fuzzy_match_records(probe, "rec_id", "name",
                                              max_distance=2,
                                              block_len=4).collect()}
        assert pairs[(1, 3)] == 0   # whitespace collapse
        assert pairs[(4, 5)] == 0   # trim + case fold
        assert pairs[(1, 2)] == 1   # smith ~ smyth within the 'john' block
        assert not any(6 in p for p in pairs)

    def test_blocking_is_the_recall_dial(self, spark):
        from dbldatagen_spark.functions import fuzzy_match_records

        probe = spark.createDataFrame(
            [(1, "abcd"), (2, "zbcd")],  # distance 1 but first char differs
            "rec_id long, name string",
        )
        wide = fuzzy_match_records(probe, "rec_id", "name", block_len=1,
                                   max_distance=1).count()
        narrow = fuzzy_match_records(probe, "rec_id", "name", block_len=2,
                                     max_distance=1).count()
        assert wide == 0 and narrow == 0  # differing prefixes never pair
        probe2 = spark.createDataFrame(
            [(1, "abcd"), (2, "abzd")], "rec_id long, name string")
        assert fuzzy_match_records(probe2, "rec_id", "name", block_len=2,
                                   max_distance=1).count() == 1

    def test_no_udf_in_plan(self, spark):
        from dbldatagen_spark.functions import fuzzy_match_records

        cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
        plan = fuzzy_match_records(cust, "c_custkey", "c_name") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan

    def test_max_block_size_caps_planted_hot_block(self, spark):
        from dbldatagen_spark.functions import fuzzy_match_records

        # hot block: 50 names sharing the 'john' prefix but diverging at
        # char 5+ (so the doubled prefix re-splits them); plus one cold
        # pair that must be unaffected by the cap
        rows = [(i, f"john {chr(97 + i % 26)}{i:04d}") for i in range(50)]
        rows += [(1000, "zoe a"), (1001, "zoe b")]
        probe = spark.createDataFrame(rows, "rec_id long, name string")

        uncapped = fuzzy_match_records(probe, "rec_id", "name", block_len=4,
                                       max_distance=50)
        capped = fuzzy_match_records(probe, "rec_id", "name", block_len=4,
                                     max_distance=50, max_block_size=10)
        n_un, n_cap = uncapped.count(), capped.count()
        assert n_un >= 50 * 49 / 2  # the hot block went quadratic
        assert n_cap < n_un         # the cap actually pruned comparisons
        # the cold pair survives the cap untouched
        cold = {(r["id_a"], r["id_b"]) for r in capped.collect()}
        assert (1000, 1001) in cold
        # no pair crosses re-split blocks: every capped pair is a subset
        # of the uncapped pair set (the cap only removes, never invents)
        full = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
        assert cold <= full

    def test_fuzzy_block_report_names_resplit_and_dropped(self, spark):
        from dbldatagen_spark.functions import fuzzy_block_report

        # 'aaaa...' block: oversized AND identical through 2x block_len →
        # still oversized after re-split → dropped. 'john ...' block:
        # oversized but divergent at char 5 → resplit only.
        rows = [(i, "aaaaaaaaaa" + str(i)) for i in range(30)]
        rows += [(100 + i, f"john {chr(97 + i)}xx") for i in range(20)]
        rows += [(1000, "zoe a")]
        probe = spark.createDataFrame(rows, "rec_id long, name string")
        rep = {(r["action"], r["block"]): r["n_rows"]
               for r in fuzzy_block_report(probe, "rec_id", "name",
                                           block_len=4,
                                           max_block_size=10).collect()}
        assert rep[("resplit", "aaaa")] == 30
        assert rep[("resplit", "john")] == 20
        assert rep[("dropped", "aaaaaaaa")] == 30
        assert not any(a == "dropped" and b.startswith("john")
                       for (a, b) in rep)
        # empty report when the cap never fires
        assert fuzzy_block_report(probe, "rec_id", "name", block_len=4,
                                  max_block_size=1000).count() == 0

    def test_max_block_size_validation(self, spark):
        import pytest as _pytest
        from dbldatagen_spark.functions import fuzzy_match_records

        probe = spark.createDataFrame([(1, "a")], "rec_id long, name string")
        with _pytest.raises(ValueError):
            fuzzy_match_records(probe, "rec_id", "name", max_block_size=1)


class TestTimeGapFill:
    def test_fill_semantics(self, spark):
        import datetime as dt
        from dbldatagen_spark.functions import time_gap_fill

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (1, 1, t0, 10.0),
            (2, 1, t0 + dt.timedelta(hours=3), 30.0),   # 2-bucket gap after
            (3, 1, t0 + dt.timedelta(hours=1), 20.0),   # same bucket as 10.0? no: next hour
            (4, 2, t0, 5.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, value double")
        out = sorted(
            time_gap_fill(df, "user_id", "ts", "value",
                          interval_seconds=3600, order_col="event_id").collect(),
            key=lambda r: (r["user_id"], r["bucket_ts"]),
        )
        u1 = [r for r in out if r["user_id"] == 1]
        assert [r["value"] for r in u1] == [10.0, 20.0, 20.0, 30.0]
        assert [r["was_observed"] for r in u1] == [True, True, False, True]
        u2 = [r for r in out if r["user_id"] == 2]
        assert len(u2) == 1 and u2[0]["value"] == 5.0

    def test_last_per_bucket_is_by_order_col(self, spark):
        import datetime as dt
        from dbldatagen_spark.functions import time_gap_fill

        t0 = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [(1, 1, t0, 1.0), (9, 1, t0 + dt.timedelta(minutes=5), 9.0),
             (5, 1, t0 + dt.timedelta(minutes=10), 5.0)],
            "event_id long, user_id long, ts timestamp, value double",
        )
        out = time_gap_fill(df, "user_id", "ts", "value",
                            interval_seconds=3600, order_col="event_id").collect()
        assert len(out) == 1 and out[0]["value"] == 9.0  # max event_id wins

    def test_validation_and_plan(self, spark):
        import pytest as _pytest
        from dbldatagen_spark.functions import time_gap_fill

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        with _pytest.raises(ValueError):
            time_gap_fill(ev, "user_id", "ts", "value",
                          interval_seconds=0, order_col="event_id")
        plan = time_gap_fill(ev, "user_id", "ts", "value",
                             interval_seconds=21600, order_col="event_id") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan


class TestKAnonymity:
    def test_classes_flags_and_l_diversity(self, spark):
        from dbldatagen_spark.functions import k_anonymity_report

        df = spark.createDataFrame(
            [("us", "a", 1.0), ("us", "a", 2.0), ("us", "a", 2.0),
             ("us", "b", 5.0),                        # singleton class
             ("de", "a", 7.0), ("de", "a", 7.0)],     # homogeneous
            "country string, seg string, salary double",
        )
        r = {(x["country"], x["seg"]): x for x in k_anonymity_report(
            df, ["country", "seg"], sensitive_col="salary",
            k_threshold=3).collect()}
        assert r[("us", "a")]["class_size"] == 3
        assert not r[("us", "a")]["violates_k"]
        assert r[("us", "a")]["l_distinct"] == 2
        assert r[("us", "b")]["violates_k"]
        assert r[("de", "a")]["homogeneous"]

    def test_validation(self, spark):
        import pytest as _pytest
        from dbldatagen_spark.functions import k_anonymity_report

        cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
        with _pytest.raises(ValueError):
            k_anonymity_report(cust, [])
        with _pytest.raises(ValueError):
            k_anonymity_report(cust, ["c_nationkey"], k_threshold=0)
        # without sensitive col, no l columns
        cols = k_anonymity_report(cust, ["c_nationkey"]).columns
        assert "l_distinct" not in cols and "homogeneous" not in cols


class TestHotKeyReport:
    def test_ranks_counts_and_share(self, spark):
        from dbldatagen_spark.functions import hot_key_report

        df = spark.createDataFrame(
            [(k,) for k in [1]*5 + [2]*3 + [3]*1 + [4]*1],
            "k long",
        )
        rows = hot_key_report(df, "k", top_k=3).collect()
        assert [(r["k"], r["cnt"], r["rank"]) for r in rows] == \
            [(1, 5, 1), (2, 3, 2), (3, 1, 3)]  # tie 3 vs 4 -> smaller key
        assert abs(rows[0]["share"] - 0.5) < 1e-12

    def test_validation(self, spark):
        import pytest as _pytest
        from dbldatagen_spark.functions import hot_key_report

        df = spark.createDataFrame([(1,)], "k long")
        with _pytest.raises(ValueError):
            hot_key_report(df, "k", top_k=0)

    def test_topk_is_take_ordered_not_global_sort(self, spark):
        # the profiler must not itself be the straggler: the top-k must
        # compile to TakeOrderedAndProject (per-partition heads), and the
        # only window may run over the <= top_k surviving rows
        from dbldatagen_spark.functions import hot_key_report

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        plan = hot_key_report(ev, "user_id", top_k=5) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestIncrementalDedup:
    def test_seen_resubmits_and_internal_dups_drop(self, spark):
        from dbldatagen_spark.functions import incremental_dedup

        seen = spark.createDataFrame(
            [(1, "already ingested"), (2, "also known")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(10, "brand new"),
             (11, "Already  INGESTED"),   # normalized re-submit -> drop
             (12, "fresh pair"),
             (13, "fresh pair"),          # internal dup -> min id survives
             (14, "also known")],         # exact re-submit -> drop
            "doc_id long, text string",
        )
        got = sorted(r["doc_id"] for r in
                     incremental_dedup(new, seen, "doc_id", "text").collect())
        assert got == [10, 12]

    def test_within_batch_off_keeps_internal_dups(self, spark):
        from dbldatagen_spark.functions import incremental_dedup

        seen = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        new = spark.createDataFrame(
            [(10, "y"), (11, "y")], "doc_id long, text string")
        got = sorted(r["doc_id"] for r in incremental_dedup(
            new, seen, "doc_id", "text", within_batch=False).collect())
        assert got == [10, 11]

    def test_hash_only_shuffle(self, spark):
        from dbldatagen_spark.functions import incremental_dedup

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        seen = docs.where("doc_id < 250")
        new = docs.where("doc_id >= 250")
        out = incremental_dedup(new, seen, "doc_id", "text")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan
        assert out.count() <= new.count()


class TestSCD2:
    def _changes(self, spark):
        rows = [
            (1, "2024-01-01 00:00:00", "bronze", 10),
            (1, "2024-01-05 00:00:00", "bronze", 11),  # no tier change
            (1, "2024-02-01 00:00:00", "silver", 12),
            (1, "2024-03-01 00:00:00", "gold", 13),
            (2, "2024-01-10 00:00:00", "silver", 20),
            (3, "2024-01-01 00:00:00", None, 30),      # NULL attr
            (3, "2024-01-02 00:00:00", None, 31),      # NULL->NULL: no change
            (3, "2024-01-03 00:00:00", "bronze", 32),
        ]
        return spark.createDataFrame(
            rows, ["user_id", "ts", "tier", "event_id"]
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    def test_intervals_collapse_and_version(self, spark):
        from dbldatagen_spark.functions import scd2_intervals

        out = scd2_intervals(
            self._changes(spark), "user_id", "ts", ["tier"], order_col="event_id"
        )
        u1 = sorted(
            out.where("user_id = 1").collect(), key=lambda r: r.version
        )
        assert [r.tier for r in u1] == ["bronze", "silver", "gold"]
        assert [r.version for r in u1] == [1, 2, 3]
        # half-open chaining: each effective_to equals the next from
        assert u1[0].effective_to == u1[1].effective_from
        assert u1[1].effective_to == u1[2].effective_from
        assert u1[2].effective_to is None and u1[2].is_current
        # the no-change event did not open a new version
        assert str(u1[1].effective_from).startswith("2024-02-01")

    def test_intervals_null_attr_no_change(self, spark):
        from dbldatagen_spark.functions import scd2_intervals

        out = scd2_intervals(
            self._changes(spark), "user_id", "ts", ["tier"], order_col="event_id"
        )
        u3 = sorted(out.where("user_id = 3").collect(), key=lambda r: r.version)
        assert len(u3) == 2  # NULL run collapsed, then bronze
        assert u3[0].tier is None and u3[1].tier == "bronze"

    def test_lookup_point_in_time(self, spark):
        from dbldatagen_spark.functions import scd2_intervals, scd2_lookup

        dim = scd2_intervals(
            self._changes(spark), "user_id", "ts", ["tier"], order_col="event_id"
        )
        facts = spark.createDataFrame(
            [
                (1, "2024-01-15 00:00:00"),  # bronze
                (1, "2024-02-01 00:00:00"),  # boundary: silver starts (closed from)
                (1, "2024-06-01 00:00:00"),  # gold (open interval)
                (2, "2024-01-01 00:00:00"),  # before any version -> NULL
                (9, "2024-01-01 00:00:00"),  # unknown key -> NULL
            ],
            ["user_id", "probe_ts"],
        ).withColumn("probe_ts", F.col("probe_ts").cast("timestamp"))
        got = {
            (r.user_id, str(r.probe_ts)): r.tier
            for r in scd2_lookup(
                facts, dim, "user_id", "probe_ts", broadcast_dim=True
            ).collect()
        }
        assert got[(1, "2024-01-15 00:00:00")] == "bronze"
        assert got[(1, "2024-02-01 00:00:00")] == "silver"
        assert got[(1, "2024-06-01 00:00:00")] == "gold"
        assert got[(2, "2024-01-01 00:00:00")] is None
        assert got[(9, "2024-01-01 00:00:00")] is None

    def test_lookup_never_amplifies(self, spark):
        from dbldatagen_spark.functions import scd2_intervals, scd2_lookup

        events = spark.read.parquet(f"{SF}/events.parquet")
        dim = scd2_intervals(
            events, "user_id", "ts", ["event_type"], order_col="event_id"
        )
        probes = events.select("user_id", F.col("ts").alias("probe_ts"))
        joined = scd2_lookup(probes, dim, "user_id", "probe_ts")
        assert joined.count() == probes.count()

    def test_intervals_requires_attrs(self, spark):
        from dbldatagen_spark.functions import scd2_intervals

        with pytest.raises(ValueError):
            scd2_intervals(self._changes(spark), "user_id", "ts", [])


class TestQuotaBudget:
    def test_quota_caps_every_group(self, spark, docs):
        from dbldatagen_spark.functions import quota_sample

        out = quota_sample(docs, "source", "doc_id", 5)
        sizes = out.groupBy("source").count().collect()
        assert sizes and all(r["count"] <= 5 for r in sizes)
        # small groups pass through untouched
        small = docs.groupBy("source").count().where("count <= 5").count()
        kept_small = out.groupBy("source").count().where("count <= 5").count()
        assert kept_small >= small

    def test_quota_deterministic_across_partitioning(self, spark, docs):
        from dbldatagen_spark.functions import quota_sample

        a = {r.doc_id for r in quota_sample(docs, "source", "doc_id", 7).collect()}
        b = {
            r.doc_id
            for r in quota_sample(
                docs.repartition(13), "source", "doc_id", 7
            ).collect()
        }
        assert a == b

    def test_quota_hash_modes_and_validation(self, spark, docs):
        from dbldatagen_spark.functions import quota_sample

        xx = quota_sample(docs, "source", "doc_id", 3, hash_mode="xxhash64")
        assert xx.groupBy("source").count().agg(F.max("count")).first()[0] <= 3
        with pytest.raises(ValueError):
            quota_sample(docs, "source", "doc_id", 0)
        with pytest.raises(ValueError):
            quota_sample(docs, "source", "doc_id", 1, hash_mode="sha1")

    def test_budget_select_prefix_semantics(self, spark):
        from dbldatagen_spark.functions import budget_select

        df = spark.createDataFrame(
            [
                ("a", 1, 40.0, 9.0),
                ("a", 2, 40.0, 8.0),
                ("a", 3, 10.0, 7.0),   # overflows at cum 90 > 85? no: 90>85 drop
                ("a", 4, 1.0, 6.0),    # after overflow: cum 91 also dropped
                ("b", 5, 100.0, 1.0),  # single row over budget -> dropped
            ],
            ["src", "id", "tokens", "quality"],
        )
        kept = budget_select(
            df, "src", "id", "tokens", 85.0, priority_col="quality"
        ).collect()
        assert {r.id for r in kept} == {1, 2}
        by_id = {r.id: r.cum_weight for r in kept}
        assert by_id[1] == 40.0 and by_id[2] == 80.0

    def test_budget_select_on_docs(self, spark, docs):
        from dbldatagen_spark.functions import budget_select

        out = budget_select(docs, "source", "doc_id", "n_chars", 5000.0)
        per = out.groupBy("source").agg(F.max("cum_weight").alias("mx"))
        assert per.where("mx > 5000").count() == 0
        with pytest.raises(ValueError):
            budget_select(docs, "source", "doc_id", "n_chars", 0)


class TestOutliers:
    def test_winsorize_global(self, spark):
        from dbldatagen_spark.functions import winsorize

        df = spark.createDataFrame(
            [(i, float(i)) for i in range(1, 101)], ["id", "v"]
        )
        out = winsorize(df, "v", lower_q=0.05, upper_q=0.95)
        rows = out.collect()
        assert all(r._clip_lo <= r.v_winsorized <= r._clip_hi for r in rows)
        assert min(r.v_winsorized for r in rows) > 1.0
        assert max(r.v_winsorized for r in rows) < 100.0
        # interior values untouched
        mid = [r for r in rows if r.id == 50][0]
        assert mid.v_winsorized == 50.0

    def test_winsorize_grouped_and_validation(self, spark):
        from dbldatagen_spark.functions import winsorize

        df = spark.createDataFrame(
            [("g1", float(i)) for i in range(100)]
            + [("g2", float(i * 1000)) for i in range(100)],
            ["g", "v"],
        )
        out = winsorize(df, "v", by="g")
        lo = {r.g: r._clip_lo for r in out.select("g", "_clip_lo").distinct().collect()}
        assert lo["g2"] > lo["g1"]
        with pytest.raises(ValueError):
            winsorize(df, "v", lower_q=0.9, upper_q=0.1)

    def test_robust_flags(self, spark):
        from dbldatagen_spark.functions import robust_outlier_flags

        df = spark.createDataFrame(
            [(i, float(i % 10)) for i in range(100)] + [(999, 1e6)],
            ["id", "v"],
        )
        out = robust_outlier_flags(df, "v")
        flagged = {r.id for r in out.where("is_outlier").collect()}
        assert flagged == {999}
        with pytest.raises(ValueError):
            robust_outlier_flags(df, "v", k=-1)


class TestCDC:
    def _log(self, spark):
        rows = [
            (1, 1, "I", "alice", 10.0),
            (1, 2, "U", "alice2", 11.0),
            (2, 3, "I", "bob", 20.0),
            (2, 4, "D", None, None),       # deleted
            (3, 5, "I", "carol", 30.0),
            (3, 6, "D", None, None),
            (3, 7, "I", "carol2", 31.0),   # re-inserted after delete
        ]
        return spark.createDataFrame(
            rows, ["key", "seq", "op", "name", "score"]
        )

    def test_apply_cdc_latest_wins(self, spark):
        from dbldatagen_spark.functions import apply_cdc

        out = {r.key: r for r in apply_cdc(self._log(spark), ["key"], "seq").collect()}
        assert set(out) == {1, 3}
        assert out[1].name == "alice2" and out[3].name == "carol2"
        assert "op" not in out[1].asDict() and "seq" not in out[1].asDict()

    def test_apply_cdc_keep_op_cols_and_segments(self, spark):
        from dbldatagen_spark.functions import apply_cdc

        log = self._log(spark)
        out = apply_cdc(log, ["key"], "seq", keep_op_cols=True)
        assert {"op", "seq"} <= set(out.columns)
        # associativity: applying over union of segments == over full log
        seg = apply_cdc(
            log.where("seq <= 4").union(log.where("seq > 4")), ["key"], "seq"
        )
        full = apply_cdc(log, ["key"], "seq")
        assert sorted(map(tuple, seg.collect())) == sorted(map(tuple, full.collect()))
        with pytest.raises(ValueError):
            apply_cdc(log, [], "seq")

    def test_cdc_change_counts(self, spark):
        from dbldatagen_spark.functions import cdc_change_counts

        out = {r.op: (r.n_ops, r.n_keys) for r in cdc_change_counts(
            self._log(spark), ["key"]
        ).collect()}
        assert out == {"I": (4, 3), "U": (1, 1), "D": (2, 2)}


class TestWeightedSample:
    def test_weighted_sample_caps_and_determinism(self, spark, docs):
        from dbldatagen_spark.functions import weighted_sample

        out = weighted_sample(docs, "source", "doc_id", "n_chars", 10)
        assert out.groupBy("source").count().agg(F.max("count")).first()[0] <= 10
        a = {r.doc_id for r in out.collect()}
        b = {
            r.doc_id
            for r in weighted_sample(
                docs.repartition(17), "source", "doc_id", "n_chars", 10
            ).collect()
        }
        assert a == b

    def test_weighted_sample_bias(self, spark):
        from dbldatagen_spark.functions import weighted_sample

        # 1000 light rows (w=1) + 50 heavy rows (w=1000): heavy rows should
        # dominate a 20-row sample despite being 5% of the population
        rows = [("g", i, 1.0) for i in range(1000)] + [
            ("g", 10_000 + i, 1000.0) for i in range(50)
        ]
        df = spark.createDataFrame(rows, ["g", "id", "w"])
        picked = weighted_sample(df, "g", "id", "w", 20).collect()
        heavy = sum(1 for r in picked if r.id >= 10_000)
        assert heavy >= 15

    def test_weighted_sample_excludes_nonpositive(self, spark):
        from dbldatagen_spark.functions import weighted_sample

        df = spark.createDataFrame(
            [("g", 1, 0.0), ("g", 2, -5.0), ("g", 3, 2.0)], ["g", "id", "w"]
        )
        out = weighted_sample(df, "g", "id", "w", 10).collect()
        assert {r.id for r in out} == {3}
        with pytest.raises(ValueError):
            weighted_sample(df, "g", "id", "w", 0)


class TestAnalytics:
    def test_funnel_ordered_semantics(self, spark):
        from dbldatagen_spark.functions import funnel_steps

        rows = [
            # u1 completes view -> click -> purchase in order
            (1, "2024-01-01 10:00:00", "view"),
            (1, "2024-01-01 10:05:00", "click"),
            (1, "2024-01-01 10:10:00", "purchase"),
            # u2 has all three but purchase BEFORE click -> stops at click
            (2, "2024-01-01 10:00:00", "view"),
            (2, "2024-01-01 10:01:00", "purchase"),
            (2, "2024-01-01 10:02:00", "click"),
            # u3 only views
            (3, "2024-01-01 10:00:00", "view"),
            # u4 greedy trap: early click before view, later click after view
            (4, "2024-01-01 09:00:00", "click"),
            (4, "2024-01-01 10:00:00", "view"),
            (4, "2024-01-01 11:00:00", "click"),
            # u5 never enters the funnel
            (5, "2024-01-01 10:00:00", "error"),
        ]
        df = spark.createDataFrame(rows, ["user_id", "ts", "step"]).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        out = {
            r.step: r.n_users
            for r in funnel_steps(
                df, "user_id", "ts", "step", ["view", "click", "purchase"]
            ).collect()
        }
        assert out == {"view": 4, "click": 3, "purchase": 1}

    def test_funnel_strictly_after(self, spark):
        from dbldatagen_spark.functions import funnel_steps

        # same-timestamp step2 does NOT count (strictly after)
        df = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00", "a"), (1, "2024-01-01 10:00:00", "b")],
            ["u", "ts", "s"],
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = {r.step: r.n_users for r in funnel_steps(df, "u", "ts", "s", ["a", "b"]).collect()}
        assert out == {"a": 1, "b": 0}
        with pytest.raises(ValueError):
            funnel_steps(df, "u", "ts", "s", [])
        with pytest.raises(ValueError):
            funnel_steps(df, "u", "ts", "s", ["a", "a"])

    def test_cohort_retention_matrix(self, spark):
        from dbldatagen_spark.functions import cohort_retention

        rows = [
            # u1: cohort week of Jan 1 (Mon), active weeks 0, 1, 3
            (1, "2024-01-02 10:00:00"),
            (1, "2024-01-03 10:00:00"),   # same week, must not double count
            (1, "2024-01-10 10:00:00"),
            (1, "2024-01-22 10:00:00"),
            # u2: same cohort, active week 0 only
            (2, "2024-01-05 10:00:00"),
            # u3: cohort week of Jan 8, active weeks 0 and 1
            (3, "2024-01-08 10:00:00"),
            (3, "2024-01-16 10:00:00"),
        ]
        df = spark.createDataFrame(rows, ["user_id", "ts"]).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        out = {
            (str(r.cohort_start), r.period_offset): r.n_active
            for r in cohort_retention(df, "user_id", "ts").collect()
        }
        assert out == {
            ("2024-01-01", 0): 2,
            ("2024-01-01", 1): 1,
            ("2024-01-01", 3): 1,
            ("2024-01-08", 0): 1,
            ("2024-01-08", 1): 1,
        }

    def test_cohort_retention_hot_user_skew_safe(self, spark):
        """Round-12 skew audit: the cohort min must come from a
        map-side-combined collect_set aggregate, never an unordered
        min-window over the raw user key — a bot user's millions of
        events would buffer in ONE window group (AQE cannot split a
        window). Functional: a 5,000-event hot user still cohorts
        correctly; plan: no window at all, partial aggregation on."""
        from dbldatagen_spark.functions import cohort_retention

        rows = [(1, "2024-01-02 10:00:00")] * 5000  # hot user, week 0
        rows += [(1, "2024-01-10 10:00:00")] * 5000  # week 1
        rows += [(2, "2024-01-03 09:00:00")]
        df = spark.createDataFrame(rows, ["u", "ts"]).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        out = cohort_retention(df.repartition(7), "u", "ts")
        got = {(str(r.cohort_start), r.period_offset): r.n_active
               for r in out.collect()}
        assert got == {("2024-01-01", 0): 2, ("2024-01-01", 1): 1}
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "windowspecdefinition" not in plan
        assert "partial_collect_set" in plan

    def test_cohort_retention_max_offset_and_validation(self, spark):
        from dbldatagen_spark.functions import cohort_retention

        df = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00"), (1, "2024-06-01 00:00:00")],
            ["u", "ts"],
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = cohort_retention(df, "u", "ts", max_offset=2).collect()
        assert all(r.period_offset <= 2 for r in out)
        with pytest.raises(ValueError):
            cohort_retention(df, "u", "ts", period="quarter")
        with pytest.raises(ValueError):
            cohort_retention(df, "u", "ts", max_offset=-1)


class TestContrastivePairs:
    def test_negatives_count_and_balance(self, spark, docs):
        from dbldatagen_spark.functions import contrastive_negatives

        out = contrastive_negatives(docs, "doc_id", k=2, num_buckets=8).cache()
        n_docs = docs.count()
        # every anchor gets exactly k negatives (buckets are >> k here)
        per_anchor = out.groupBy("anchor_id").count()
        assert per_anchor.where("count != 2").count() == 0
        assert per_anchor.count() == n_docs
        # ring property: every row serves as a negative exactly k times
        per_neg = out.groupBy("negative_id").count()
        assert per_neg.where("count != 2").count() == 0
        # no self pairs, no duplicate (anchor, negative) pairs
        assert out.where("anchor_id = negative_id").count() == 0
        assert out.select("anchor_id", "negative_id").distinct().count() == out.count()
        out.unpersist()

    def test_negatives_deterministic(self, spark, docs):
        from dbldatagen_spark.functions import contrastive_negatives

        a = set(
            map(tuple, contrastive_negatives(docs, "doc_id", k=1).collect())
        )
        b = set(
            map(
                tuple,
                contrastive_negatives(
                    docs.repartition(19), "doc_id", k=1
                ).collect(),
            )
        )
        assert a == b

    def test_tiny_bucket_self_pair_filtered(self, spark):
        from dbldatagen_spark.functions import contrastive_negatives

        df = spark.createDataFrame([(1,)], ["id"])
        assert contrastive_negatives(df, "id", k=3, num_buckets=1).count() == 0
        with pytest.raises(ValueError):
            contrastive_negatives(df, "id", k=0)
        with pytest.raises(ValueError):
            contrastive_negatives(df, "id", num_buckets=0)


class TestFeatureScaling:
    def test_zscore_global(self, spark):
        from dbldatagen_spark.functions import zscore_normalize

        df = spark.createDataFrame(
            [(i, float(v)) for i, v in enumerate([2.0, 4.0, 4.0, 4.0, 5.0, 5.0, 7.0, 9.0])],
            ["id", "v"],
        )
        rows = zscore_normalize(df, "v").collect()
        # mean 5, stddev_pop 2 -> v=9 maps to 2.0
        z = {r.id: r.v_z for r in rows}
        assert abs(z[7] - 2.0) < 1e-12 and abs(z[0] + 1.5) < 1e-12
        # mean-zero property
        assert abs(sum(r.v_z for r in rows)) < 1e-9

    def test_zscore_degenerate_and_robust(self, spark):
        from dbldatagen_spark.functions import zscore_normalize

        const = spark.createDataFrame([(1, 5.0), (2, 5.0)], ["id", "v"])
        assert all(r.v_z == 0.0 for r in zscore_normalize(const, "v").collect())
        grouped = spark.createDataFrame(
            [("a", float(i)) for i in range(1, 101)]
            + [("b", float(i * 10)) for i in range(1, 101)],
            ["g", "v"],
        )
        out = zscore_normalize(grouped, "v", by="g", robust=True)
        med = {r.g: r._center for r in out.select("g", "_center").distinct().collect()}
        assert med["a"] == 50.5 and med["b"] == 505.0

    def test_quantile_bucket_assignment(self, spark):
        from dbldatagen_spark.functions import quantile_bucket

        df = spark.createDataFrame(
            [(i, float(i)) for i in range(1, 101)], ["id", "v"]
        )
        out = quantile_bucket(df, "v", 4).collect()
        b = {r.id: r.v_bucket for r in out}
        assert b[1] == 1 and b[100] == 4
        assert min(b.values()) == 1 and max(b.values()) == 4
        # quartiles of 1..100 are ~25.75/50.5/75.25: counts near equal
        from collections import Counter
        counts = Counter(b.values())
        assert all(20 <= c <= 30 for c in counts.values())

    def test_quantile_bucket_ties_and_validation(self, spark):
        from dbldatagen_spark.functions import quantile_bucket

        ties = spark.createDataFrame(
            [(i, 1.0) for i in range(10)] + [(100 + i, 2.0) for i in range(10)],
            ["id", "v"],
        )
        out = quantile_bucket(ties, "v", 4).collect()
        by_val = {}
        for r in out:
            by_val.setdefault(r.v, set()).add(r.v_bucket)
        # equal values always land in the same bucket
        assert all(len(s) == 1 for s in by_val.values())
        with pytest.raises(ValueError):
            quantile_bucket(ties, "v", 1)


class TestIntervalOverlapJoin:
    def test_overlap_semantics(self, spark):
        from dbldatagen_spark.functions import interval_overlap_join

        left = spark.createDataFrame(
            [
                (1, "a1", 100.0, 200.0),
                (1, "a2", 300.0, 400.0),
                (2, "a3", 100.0, 200.0),
            ],
            ["k", "lid", "ls", "le"],
        )
        right = spark.createDataFrame(
            [
                (1, "b1", 150.0, 250.0),   # overlaps a1
                (1, "b2", 200.0, 210.0),   # touches a1 at boundary (closed)
                (1, "b3", 401.0, 500.0),   # just misses a2
                (2, "b4", 50.0, 99.0),     # just misses a3
                (3, "b5", 100.0, 200.0),   # no matching key
            ],
            ["k", "rid", "rs", "re"],
        )
        got = {
            (r.lid, r.rid)
            for r in interval_overlap_join(
                left, right, "ls", "le", "rs", "re",
                equi_keys=["k"], bucket_width_seconds=60,
            ).collect()
        }
        assert got == {("a1", "b1"), ("a1", "b2")}

    def test_each_pair_emitted_once(self, spark):
        from dbldatagen_spark.functions import interval_overlap_join

        # long overlap spanning many buckets must still emit exactly once
        left = spark.createDataFrame([("L", 0.0, 10_000.0)], ["lid", "ls", "le"])
        right = spark.createDataFrame([("R", 5.0, 9_999.0)], ["rid", "rs", "re"])
        out = interval_overlap_join(
            left, right, "ls", "le", "rs", "re", bucket_width_seconds=10
        ).collect()
        assert len(out) == 1

    def test_guards(self, spark):
        from dbldatagen_spark.functions import interval_overlap_join

        df = spark.createDataFrame([("x", 0.0, 10.0)], ["id", "s", "e"])
        df2 = spark.createDataFrame([("y", 0.0, 10.0)], ["id2", "s2", "e2"])
        with pytest.raises(ValueError):
            interval_overlap_join(df, df2, "s", "e", "s2", "e2", bucket_width_seconds=0)
        with pytest.raises(ValueError):
            interval_overlap_join(df, df, "s", "e", "s", "e")  # collision
        with pytest.raises(Exception):
            interval_overlap_join(
                df, df2, "s", "e", "s2", "e2",
                bucket_width_seconds=1, max_covered_buckets=5,
            ).collect()


class TestExpectations:
    def test_expectation_report_single_pass(self, spark):
        from dbldatagen_spark.functions import expectation_report

        df = spark.createDataFrame(
            [(1, 10.0, "a"), (2, -5.0, "b"), (3, None, "a"), (4, 7.0, None)],
            ["id", "v", "cat"],
        )
        out = {
            r.rule: (r.n_rows, r.n_pass, r.n_fail)
            for r in expectation_report(
                df,
                {
                    "v_positive": "v > 0",
                    "cat_not_null": "cat IS NOT NULL",
                    "id_unique_range": "id BETWEEN 1 AND 4",
                },
            ).collect()
        }
        # NULL v counts as failure, not pass
        assert out["v_positive"] == (4, 2, 2)
        assert out["cat_not_null"] == (4, 3, 1)
        assert out["id_unique_range"] == (4, 4, 0)
        with pytest.raises(ValueError):
            expectation_report(df, {})

    def test_psi_identical_distributions(self, spark):
        from dbldatagen_spark.functions import psi_report

        df = spark.createDataFrame(
            [(i, float(i % 100)) for i in range(1000)], ["id", "v"]
        )
        out = psi_report(df, df, "v", num_buckets=5).collect()
        assert len(out) == 5
        assert all(abs(r.psi_term) < 1e-9 for r in out)
        assert abs(sum(r.expected_share for r in out) - 1.0) < 1e-6

    def test_psi_detects_shift(self, spark):
        from dbldatagen_spark.functions import psi_report

        ref = spark.createDataFrame(
            [(i, float(i % 100)) for i in range(1000)], ["id", "v"]
        )
        shifted = spark.createDataFrame(
            [(i, float(i % 100) + 50.0) for i in range(1000)], ["id", "v"]
        )
        total = sum(r.psi_term for r in psi_report(ref, shifted, "v").collect())
        assert total > 0.25  # conventional "drifted" threshold
        with pytest.raises(ValueError):
            psi_report(ref, shifted, "v", num_buckets=1)
        with pytest.raises(ValueError):
            psi_report(ref, shifted, "v", min_share=2.0)


class TestZOrder:
    def test_morton_interleave_known_values(self, spark):
        from dbldatagen_spark.functions import zorder_value_expr

        df = spark.createDataFrame(
            [(0, 0), (1, 0), (0, 1), (1, 1), (3, 5)], ["x", "y"]
        )
        out = df.select("x", "y", zorder_value_expr(["x", "y"], bits=4).alias("z")).collect()
        got = {(r.x, r.y): r.z for r in out}
        # classic Morton: z(1,0)=1, z(0,1)=2, z(1,1)=3
        assert got[(0, 0)] == 0 and got[(1, 0)] == 1
        assert got[(0, 1)] == 2 and got[(1, 1)] == 3
        # 3=0b011, 5=0b101 -> interleaved (y bits at odd positions) = 0b100111 = 39
        assert got[(3, 5)] == 39

    def test_locality_property(self, spark):
        from dbldatagen_spark.functions import zorder_value_expr

        # points in the same 2x2 cell have closer z-values than far cells
        df = spark.createDataFrame(
            [(0, 0), (1, 1), (15, 15)], ["x", "y"]
        )
        z = {
            (r.x, r.y): r.z
            for r in df.select(
                "x", "y", zorder_value_expr(["x", "y"], bits=4).alias("z")
            ).collect()
        }
        assert abs(z[(0, 0)] - z[(1, 1)]) < abs(z[(0, 0)] - z[(15, 15)])

    def test_zorder_sort_orders_partitions(self, spark):
        from dbldatagen_spark.functions import zorder_sort

        df = spark.createDataFrame(
            [(i, (i * 7) % 64, (i * 13) % 64) for i in range(256)],
            ["id", "x", "y"],
        )
        out = zorder_sort(df, ["x", "y"], bits=6, num_partitions=4)
        # each partition is internally sorted by _zvalue
        def _check(it):
            vals = [r._zvalue for r in it]
            assert vals == sorted(vals)
            return iter([len(vals)])
        sizes = out.rdd.mapPartitions(lambda it: _check(list(it))).collect()
        assert sum(sizes) == 256
        with pytest.raises(ValueError):
            zorder_sort(df, [], bits=6)
        with pytest.raises(ValueError):
            zorder_sort(df, ["x", "y"], bits=32)


class TestSequenceGaps:
    def test_finds_gaps_within_and_across_buckets(self, spark):
        from dbldatagen_spark.functions import sequence_gaps

        ids = [1, 2, 3, 7, 8, 25, 26, 40]  # gaps: 4-6, 9-24, 27-39
        df = spark.createDataFrame([(i,) for i in ids], ["id"])
        out = [
            (r.gap_start, r.gap_end, r.gap_len)
            for r in sequence_gaps(df, "id", bucket_size=10).collect()
        ]
        assert out == [(4, 6, 3), (9, 24, 16), (27, 39, 13)]

    def test_no_gaps_and_duplicates(self, spark):
        from dbldatagen_spark.functions import sequence_gaps

        df = spark.createDataFrame(
            [(i,) for i in [5, 6, 6, 7, 7, 8]], ["id"]
        )
        assert sequence_gaps(df, "id", bucket_size=3).count() == 0
        with pytest.raises(ValueError):
            sequence_gaps(df, "id", bucket_size=1)

    def test_whole_missing_bucket(self, spark):
        from dbldatagen_spark.functions import sequence_gaps

        # bucket_size=5: ids in buckets 0 and 2, bucket 1 entirely missing
        df = spark.createDataFrame([(3,), (4,), (12,)], ["id"])
        out = [(r.gap_start, r.gap_end) for r in sequence_gaps(df, "id", bucket_size=5).collect()]
        assert out == [(5, 11)]


class TestDPNoisyCounts:
    def test_noise_shape_and_determinism(self, spark):
        from dbldatagen_spark.functions import dp_noisy_counts

        df = spark.createDataFrame(
            [(i, f"g{i % 4}") for i in range(400)], ["id", "g"]
        )
        out = {r.g: (r.true_count, r.noisy_count) for r in dp_noisy_counts(
            df, ["g"], epsilon=1.0
        ).collect()}
        assert all(t == 100 for t, _ in out.values())
        # noise is nonzero but Laplace(1)-scale bounded in practice
        assert any(abs(n - t) > 1e-6 for t, n in out.values())
        assert all(abs(n - t) < 50 for t, n in out.values())
        out2 = {r.g: r.noisy_count for r in dp_noisy_counts(
            df.repartition(7), ["g"], epsilon=1.0
        ).collect()}
        assert {g: n for g, (_, n) in out.items()} == out2
        # different seed -> different noise
        out3 = {r.g: r.noisy_count for r in dp_noisy_counts(
            df, ["g"], epsilon=1.0, seed=7
        ).collect()}
        assert out3 != out2

    def test_epsilon_scales_noise(self, spark):
        from dbldatagen_spark.functions import dp_noisy_counts

        df = spark.createDataFrame(
            [(i, f"g{i % 32}") for i in range(3200)], ["id", "g"]
        )
        tight = dp_noisy_counts(df, ["g"], epsilon=10.0).collect()
        loose = dp_noisy_counts(df, ["g"], epsilon=0.1).collect()
        mean_abs = lambda rows: sum(
            abs(r.noisy_count - r.true_count) for r in rows
        ) / len(rows)
        assert mean_abs(loose) > mean_abs(tight) * 10
        with pytest.raises(ValueError):
            dp_noisy_counts(df, ["g"], epsilon=0)
        with pytest.raises(ValueError):
            dp_noisy_counts(df, [])


class TestMergeableAggregates:
    def test_merge_equals_full_recompute(self, spark):
        from dbldatagen_spark.functions import (
            merge_aggregates,
            mergeable_aggregate,
        )

        df = spark.createDataFrame(
            [(i % 5, float(i)) for i in range(100)], ["k", "v"]
        )
        day1 = df.where("v < 60")
        day2 = df.where("v >= 60")
        merged = merge_aggregates(
            mergeable_aggregate(day1, ["k"], "v"),
            mergeable_aggregate(day2, ["k"], "v"),
            ["k"],
        )
        full = mergeable_aggregate(df, ["k"], "v")
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, full.collect())
        )

    def test_merge_disjoint_keys_and_order(self, spark):
        from dbldatagen_spark.functions import (
            merge_aggregates,
            mergeable_aggregate,
        )

        a = spark.createDataFrame([(1, 10.0), (1, 20.0)], ["k", "v"])
        b = spark.createDataFrame([(2, 5.0)], ["k", "v"])
        sa, sb = (
            mergeable_aggregate(a, ["k"], "v"),
            mergeable_aggregate(b, ["k"], "v"),
        )
        ab = sorted(map(tuple, merge_aggregates(sa, sb, ["k"]).collect()))
        ba = sorted(map(tuple, merge_aggregates(sb, sa, ["k"]).collect()))
        assert ab == ba  # commutative
        assert ab == [(1, 2, 30.0, 10.0, 20.0), (2, 1, 5.0, 5.0, 5.0)]
        with pytest.raises(ValueError):
            merge_aggregates(sa, sb, [])


class TestTruncateEmbeddings:
    def test_prefix_and_renorm(self, spark):
        from dbldatagen_spark.functions import truncate_embeddings

        df = spark.createDataFrame(
            [(1, [3.0, 4.0, 100.0]), (2, [0.0, 0.0, 9.0])],
            ["id", "vec"],
        )
        out = {r.id: r for r in truncate_embeddings(df, "vec", 2).collect()}
        assert abs(out[1].vec_mrl_norm - 5.0) < 1e-12
        assert [round(x, 6) for x in out[1].vec_mrl] == [0.6, 0.8]
        # zero prefix stays zero (no division by zero)
        assert out[2].vec_mrl == [0.0, 0.0] and out[2].vec_mrl_norm == 0.0

    def test_no_renorm_and_validation(self, spark):
        from dbldatagen_spark.functions import truncate_embeddings

        df = spark.createDataFrame([(1, [3.0, 4.0, 5.0])], ["id", "vec"])
        out = truncate_embeddings(df, "vec", 2, renormalize=False).first()
        assert out.vec_mrl == [3.0, 4.0]
        with pytest.raises(ValueError):
            truncate_embeddings(df, "vec", 0)

    def test_prefix_retrieval_quality(self, spark, emb):
        from dbldatagen_spark.functions import truncate_embeddings
        from pyspark.sql import functions as FF

        # truncated-prefix cosine should broadly agree with full cosine
        # on label structure: same-label mean similarity > cross-label
        t = truncate_embeddings(emb, "embedding", 8)
        a = t.select(
            FF.col("vec_id").alias("ia"),
            FF.col("label").alias("la"),
            FF.col("embedding_mrl").alias("va"),
        )
        b = t.select(
            FF.col("vec_id").alias("ib"),
            FF.col("label").alias("lb"),
            FF.col("embedding_mrl").alias("vb"),
        )
        pairs = (
            a.join(b, FF.col("ia") < FF.col("ib"))
            .where((FF.col("ia") % 10 == 0) & (FF.col("ib") % 10 == 0))
            .select(
                (FF.col("la") == FF.col("lb")).alias("same"),
                FF.aggregate(
                    FF.zip_with(
                        "va", "vb", lambda x, y: x * y
                    ),
                    FF.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("cos"),
            )
        )
        rows = pairs.groupBy("same").agg(FF.avg("cos").alias("m")).collect()
        m = {r.same: r.m for r in rows}
        assert m[True] > m[False]


class TestSeasonalResiduals:
    def test_flags_planted_spike(self, spark):
        from dbldatagen_spark.functions import seasonal_residual_flags

        # 4 weeks of hourly-ish data at value 10, one planted 1000 spike
        import datetime as dt

        rows = []
        t0 = dt.datetime(2024, 1, 1)
        for d in range(28):
            for h in (9, 15):
                rows.append((len(rows), t0 + dt.timedelta(days=d, hours=h), 10.0))
        rows[13] = (13, rows[13][1], 1000.0)
        df = spark.createDataFrame(rows, ["id", "ts", "v"])
        # hour_of_day pools 28 observations per slot, so the single
        # spike's z-score (~5.2) clears k=3; with only 4 obs per slot
        # (hour_of_week) a lone in-sample outlier cannot exceed sqrt(3)
        out = seasonal_residual_flags(df, "ts", "v", season="hour_of_day", k=3.0)
        flagged = [r.id for r in out.where("is_anomaly").collect()]
        assert flagged == [13]

    def test_constant_slot_never_flags(self, spark):
        from dbldatagen_spark.functions import seasonal_residual_flags

        import datetime as dt

        rows = [
            (i, dt.datetime(2024, 1, 1 + i, 9), 5.0) for i in range(7)
        ]
        df = spark.createDataFrame(rows, ["id", "ts", "v"])
        out = seasonal_residual_flags(df, "ts", "v", season="hour_of_day")
        assert out.where("is_anomaly").count() == 0
        with pytest.raises(ValueError):
            seasonal_residual_flags(df, "ts", "v", season="month")
        with pytest.raises(ValueError):
            seasonal_residual_flags(df, "ts", "v", k=-1)

    def test_grouped_baselines(self, spark):
        from dbldatagen_spark.functions import seasonal_residual_flags

        import datetime as dt

        rows = []
        for i in range(20):
            ts = dt.datetime(2024, 1, 1 + (i % 7), 9)
            rows.append((i, ts, "a", 10.0 + (i % 3)))
            rows.append((100 + i, ts, "b", 1000.0 + (i % 3)))
        df = spark.createDataFrame(rows, ["id", "ts", "g", "v"])
        out = seasonal_residual_flags(
            df, "ts", "v", group_col="g", season="day_of_week"
        )
        # group b's large values are normal within its own baseline
        assert out.where("is_anomaly").count() == 0
        means = {r.g: r.season_mean for r in out.select("g", "season_mean").distinct().collect()}
        assert means["b"] > means["a"]


class TestAsofDirections:
    def _frames(self, spark):
        left = spark.createDataFrame(
            [(1, 100.0, "L1"), (1, 205.0, "L2"), (2, 50.0, "L3")],
            ["k", "ts", "tag"],
        )
        right = spark.createDataFrame(
            [(1, 90.0, 9.0), (1, 200.0, 20.0), (1, 208.0, 21.0), (2, 400.0, 40.0)],
            ["k", "ts", "px"],
        )
        return left, right

    def test_forward_semantics(self, spark):
        from dbldatagen_spark.functions import asof_join_forward

        left, right = self._frames(spark)
        out = {
            r.tag: (r.asof_ts, r.asof_px)
            for r in asof_join_forward(left, right, ["k"], "ts", ["px"]).collect()
        }
        assert out["L1"] == (200.0, 20.0)   # next right at/after 100
        assert out["L2"] == (208.0, 21.0)
        assert out["L3"] == (400.0, 40.0)

    def test_forward_inclusive_boundary(self, spark):
        from dbldatagen_spark.functions import asof_join_forward

        left = spark.createDataFrame([(1, 200.0, "L")], ["k", "ts", "tag"])
        right = spark.createDataFrame([(1, 200.0, 7.0)], ["k", "ts", "px"])
        out = asof_join_forward(left, right, ["k"], "ts", ["px"]).first()
        assert out.asof_px == 7.0  # >= is inclusive

    def test_nearest_semantics_and_tolerance(self, spark):
        from dbldatagen_spark.functions import asof_join_nearest

        left, right = self._frames(spark)
        out = {
            r.tag: (r.asof_ts, r.asof_px)
            for r in asof_join_nearest(left, right, ["k"], "ts", ["px"]).collect()
        }
        assert out["L1"] == (90.0, 9.0)     # 10 behind beats 100 ahead
        assert out["L2"] == (208.0, 21.0)   # 3 ahead beats 5 behind
        assert out["L3"] == (400.0, 40.0)   # only a forward match exists
        tol = {
            r.tag: r.asof_px
            for r in asof_join_nearest(
                left, right, ["k"], "ts", ["px"], tolerance_seconds=5.0
            ).collect()
        }
        assert tol["L1"] is None and tol["L2"] == 21.0 and tol["L3"] is None

    def test_nearest_tie_breaks_backward(self, spark):
        from dbldatagen_spark.functions import asof_join_nearest

        left = spark.createDataFrame([(1, 100.0, "L")], ["k", "ts", "tag"])
        right = spark.createDataFrame(
            [(1, 95.0, 1.0), (1, 105.0, 2.0)], ["k", "ts", "px"]
        )
        out = asof_join_nearest(left, right, ["k"], "ts", ["px"]).first()
        assert out.asof_px == 1.0


class TestSCD2Validate:
    def test_detects_all_violation_kinds(self, spark):
        from dbldatagen_spark.functions import scd2_validate

        rows = [
            # key 1: clean back-to-back history
            (1, "2024-01-01", "2024-02-01"),
            (1, "2024-02-01", None),
            # key 2: overlap (second starts before first ends)
            (2, "2024-01-01", "2024-03-01"),
            (2, "2024-02-01", None),
            # key 3: gap
            (3, "2024-01-01", "2024-02-01"),
            (3, "2024-03-01", None),
            # key 4: inverted interval
            (4, "2024-05-01", "2024-04-01"),
            # key 5: two open versions
            (5, "2024-01-01", None),
            (5, "2024-02-01", None),
        ]
        dim = spark.createDataFrame(
            rows, ["k", "effective_from", "effective_to"]
        ).select(
            "k",
            F.col("effective_from").cast("date").alias("effective_from"),
            F.col("effective_to").cast("date").alias("effective_to"),
        )
        got = {
            (r.key, r.violation)
            for r in scd2_validate(dim, "k").collect()
        }
        assert (1, "overlap") not in got and (1, "gap") not in got
        assert (2, "overlap") in got
        assert (3, "gap") in got
        assert (4, "inverted") in got
        assert sum(1 for k, v in got if k == 5 and v == "multiple_current") == 1
        # both open rows of key 5 flag
        n5 = sum(
            1
            for r in scd2_validate(dim, "k").collect()
            if r.key == 5 and r.violation == "multiple_current"
        )
        assert n5 == 2

    def test_generated_intervals_are_clean(self, spark):
        from dbldatagen_spark.functions import scd2_intervals, scd2_validate

        events = spark.read.parquet(f"{SF}/events.parquet")
        dim = scd2_intervals(
            events, "user_id", "ts", ["event_type"], order_col="event_id"
        )
        assert scd2_validate(dim, "user_id").count() == 0


class TestTransitionMatrix:
    def test_known_sequence(self, spark):
        from dbldatagen_spark.functions import transition_matrix

        rows = [
            (1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "b"),
            (2, 5, "a"), (2, 6, "a"),
            (3, 7, "b"),  # single event: no transitions
        ]
        df = spark.createDataFrame(rows, ["k", "ts", "s"])
        out = {
            (r.from_state, r.to_state): (r.n_transitions, r.prob)
            for r in transition_matrix(df, "k", "ts", "s").collect()
        }
        # from a: a->b twice (user1), a->a once (user2) -> probs 2/3, 1/3
        assert out[("a", "b")][0] == 2 and abs(out[("a", "b")][1] - 2 / 3) < 1e-12
        assert out[("a", "a")][0] == 1
        # from b: only b->a (user1, event3)
        assert out[("b", "a")] == (1, 1.0)
        assert ("b", "b") not in out
        # no cross-user transitions leaked (user boundaries respected)
        assert sum(n for n, _ in out.values()) == 4

    def test_row_normalization(self, spark):
        from dbldatagen_spark.functions import transition_matrix

        events = spark.read.parquet(f"{SF}/events.parquet")
        out = transition_matrix(
            events, "user_id", "ts", "event_type", order_col="event_id"
        )
        sums = (
            out.groupBy("from_state")
            .agg(F.round(F.sum("prob"), 9).alias("s"))
            .collect()
        )
        assert all(abs(r.s - 1.0) < 1e-9 for r in sums)


class TestSchemaDiff:
    def test_detects_changes(self, spark):
        from dbldatagen_spark.functions import schema_diff

        before = spark.createDataFrame([], "a int, b string, c double")
        after = spark.createDataFrame([], "a long, b string, d boolean")
        out = {
            r.column: (r.change, r.before_type, r.after_type)
            for r in schema_diff(before, after).collect()
        }
        assert out == {
            "a": ("type_changed", "int", "bigint"),
            "c": ("removed", "double", None),
            "d": ("added", None, "boolean"),
        }

    def test_identical_schemas_empty(self, spark):
        from dbldatagen_spark.functions import schema_diff

        df = spark.createDataFrame([], "x int, y string")
        assert schema_diff(df, df).count() == 0


class TestRound5NullSafety:
    def test_apply_cdc_null_op_is_upsert(self, spark):
        from dbldatagen_spark.functions import apply_cdc

        log = spark.createDataFrame(
            [(1, 1, "I", "a"), (1, 2, None, "b"), (2, 3, "D", None)],
            "k long, seq long, op string, payload string",
        )
        out = {r.k: r.payload for r in apply_cdc(log, ["k"], "seq").collect()}
        assert out == {1: "b"}  # NULL op kept key 1 alive with latest payload

    def test_grouped_percentile_ops_keep_null_groups(self, spark):
        from dbldatagen_spark.functions import winsorize, zscore_normalize

        df = spark.createDataFrame(
            [(1, "a", 1.0), (2, "a", 100.0), (3, None, 5.0), (4, None, 6.0)],
            "id long, g string, v double",
        )
        w = winsorize(df, "v", by="g")
        assert w.count() == 4  # NULL-group rows keep their own stats
        z = zscore_normalize(df, "v", by="g")
        nulls = {r.id: r.v_z for r in z.where("g IS NULL").collect()}
        assert set(nulls) == {3, 4}

    def test_scd2_lookup_shared_lineage_outer_rows(self, spark):
        from pyspark.sql import functions as F

        from dbldatagen_spark.functions import scd2_intervals, scd2_lookup

        events = spark.read.parquet(f"{SF}/events.parquet")
        dim = scd2_intervals(
            events, "user_id", "ts", ["event_type"], order_col="event_id"
        )
        # probe BEFORE every user's first interval: left rows must keep
        # their own user_id (the shared-lineage drop() hazard)
        probes = events.groupBy("user_id").agg(
            (F.min("ts") - F.expr("INTERVAL 1 HOUR")).alias("probe_ts")
        )
        out = scd2_lookup(probes, dim, "user_id", "probe_ts")
        assert out.where("user_id IS NULL").count() == 0
        assert out.where("event_type IS NOT NULL").count() == 0
        assert out.count() == probes.count()


class TestRound5NullSafety2:
    def test_psi_ignores_null_values(self, spark):
        from dbldatagen_spark.functions import psi_report

        clean = spark.createDataFrame(
            [(i, float(i % 50)) for i in range(500)], ["id", "v"]
        )
        withnull = clean.union(
            spark.createDataFrame([(9999, None)], "id long, v double")
        )
        out = psi_report(clean, withnull, "v", num_buckets=5).collect()
        # the NULL row carries no mass: shares still sum to 1, PSI ~ 0
        assert abs(sum(r.actual_share for r in out) - 1.0) < 1e-6
        assert all(abs(r.psi_term) < 1e-9 for r in out)

    def test_seasonal_null_group_kept(self, spark):
        import datetime as dt

        from dbldatagen_spark.functions import seasonal_residual_flags

        rows = [
            (i, dt.datetime(2024, 1, 1, 9, i), None if i % 2 else "a", 5.0)
            for i in range(10)
        ]
        df = spark.createDataFrame(rows, "id long, ts timestamp, g string, v double")
        out = seasonal_residual_flags(
            df, "ts", "v", group_col="g", season="hour_of_day"
        )
        assert out.count() == 10  # NULL-group rows keep their own baseline
        assert out.where("g IS NULL").count() == 5


class TestCommonPaths:
    def test_trigram_paths(self, spark):
        from dbldatagen_spark.functions import common_paths

        rows = [
            (1, 1, "a"), (1, 2, "b"), (1, 3, "c"), (1, 4, "a"),
            (2, 5, "a"), (2, 6, "b"), (2, 7, "c"),
            (3, 8, "x"), (3, 9, "y"),  # too short for a trigram
        ]
        df = spark.createDataFrame(rows, ["k", "ts", "s"])
        out = {
            r.path: (r.n_occurrences, r.rank)
            for r in common_paths(df, "k", "ts", "s", path_len=3).collect()
        }
        assert out["a > b > c"] == (2, 1)
        assert out["b > c > a"] == (1, 2)
        assert len(out) == 2  # no cross-user windows, no short sequences

    def test_top_k_and_validation(self, spark):
        from dbldatagen_spark.functions import common_paths

        events = spark.read.parquet(f"{SF}/events.parquet")
        out = common_paths(
            events, "user_id", "ts", "event_type",
            path_len=2, top_k=5, order_col="event_id",
        ).collect()
        assert len(out) == 5
        assert [r.rank for r in out] == [1, 2, 3, 4, 5]
        # counts non-increasing by rank
        ns = [r.n_occurrences for r in out]
        assert ns == sorted(ns, reverse=True)
        with pytest.raises(ValueError):
            common_paths(events, "user_id", "ts", "event_type", path_len=1)
        with pytest.raises(ValueError):
            common_paths(events, "user_id", "ts", "event_type", top_k=0)


class TestOHLCBars:
    def test_known_bars(self, spark):
        from dbldatagen_spark.functions import ohlc_bars

        rows = [
            ("X", "2024-01-01 09:00:05", 10.0, 1),
            ("X", "2024-01-01 09:20:00", 15.0, 2),
            ("X", "2024-01-01 09:40:00", 8.0, 3),
            ("X", "2024-01-01 09:59:59", 12.0, 4),
            ("X", "2024-01-01 10:00:01", 13.0, 5),   # next bar
            ("Y", "2024-01-01 09:30:00", 100.0, 6),
        ]
        df = spark.createDataFrame(rows, ["sym", "ts", "px", "id"]).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        out = {
            (r.sym, str(r.bar_ts)): (r.open, r.high, r.low, r.close, r.n_obs)
            for r in ohlc_bars(
                df, "sym", "ts", "px", interval_seconds=3600, order_col="id"
            ).collect()
        }
        assert out[("X", "2024-01-01 09:00:00")] == (10.0, 15.0, 8.0, 12.0, 4)
        assert out[("X", "2024-01-01 10:00:00")] == (13.0, 13.0, 13.0, 13.0, 1)
        assert out[("Y", "2024-01-01 09:00:00")] == (100.0, 100.0, 100.0, 100.0, 1)

    def test_same_ts_tiebreak_and_validation(self, spark):
        from dbldatagen_spark.functions import ohlc_bars

        df = spark.createDataFrame(
            [("X", "2024-01-01 09:00:00", 1.0, 10),
             ("X", "2024-01-01 09:00:00", 2.0, 11)],
            ["sym", "ts", "px", "id"],
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        r = ohlc_bars(df, "sym", "ts", "px", order_col="id").first()
        assert r.open == 1.0 and r.close == 2.0  # id breaks the tie
        with pytest.raises(ValueError):
            ohlc_bars(df, "sym", "ts", "px", interval_seconds=0, order_col="id")


class TestMojibake:
    def test_detects_planted_artifacts(self, spark):
        from dbldatagen_spark.functions import mojibake_stats

        rows = [
            (1, "perfectly clean ascii text " * 4),
            (2, "caf\u00c3\u00a9 menu \u00c3\u00a9toile"),
            (3, "bad bytes \ufffd\ufffd here"),
            (4, "smart quote gone wrong \u00e2\u20acs"),
            (5, None),
            (6, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in mojibake_stats(df, "doc_id", "text").collect()}
        assert out[1].n_mojibake == 0 and not out[1].is_mojibake
        assert out[2].n_mojibake == 2 and out[2].is_mojibake
        assert out[3].n_mojibake == 2 and out[3].is_mojibake
        assert out[4].n_mojibake == 1 and out[4].is_mojibake
        assert out[5].n_chars == 0 and not out[5].is_mojibake
        assert out[6].mojibake_ratio == 0.0
        with pytest.raises(ValueError):
            mojibake_stats(df, "doc_id", "text", markers=())
        with pytest.raises(ValueError):
            mojibake_stats(df, "doc_id", "text", flag_threshold=-1)

    def test_clean_corpus_all_zero(self, spark, docs):
        from dbldatagen_spark.functions import mojibake_stats

        out = mojibake_stats(docs, "doc_id", "text")
        assert out.where("n_mojibake > 0").count() == 0


class TestRateLimit:
    def test_token_bucket_semantics(self, spark):
        from dbldatagen_spark.functions import rate_limit_events

        # key 1: N=2 per 60s. events at t=0,10,20,70,75,80
        # t=0 ok, t=10 ok, t=20 denied (2 admitted in window),
        # t=70 ok (t=0 aged out; t=10 still in (10,70]) -> window has {10}
        # t=75 denied ({10 out? 75-60=15 -> 10 aged; admitted recent={70}} ok!)
        rows = [
            (1, 0, 1), (1, 10, 2), (1, 20, 3),
            (1, 70, 4), (1, 75, 5), (1, 80, 6),
            (2, 0, 7),
        ]
        df = spark.createDataFrame(rows, ["k", "sec", "id"]).withColumn(
            "ts", F.to_timestamp(F.col("sec").cast("long"))
        )
        out = {
            r.id: r.allowed
            for r in rate_limit_events(
                df, "k", "ts", max_events=2, window_seconds=60, order_col="id"
            ).collect()
        }
        # manual fold: t0 ok {0}; t10 ok {0,10}; t20 deny (2 in window);
        # t70: recent admitted >10 -> {} after prune(>=11)... 0,10 <= 10 -> pruned,
        #   ok {70}; t75: recent {70} size1 ok {70,75}; t80: recent {70,75} deny
        assert out == {1: True, 2: True, 3: False, 4: True, 5: True, 6: False, 7: True}

    def test_deterministic_and_ties(self, spark):
        from dbldatagen_spark.functions import rate_limit_events

        # two events at identical ts: order_col breaks the tie; N=1
        df = spark.createDataFrame(
            [(1, 100, 11), (1, 100, 10)], ["k", "sec", "id"]
        ).withColumn("ts", F.to_timestamp(F.col("sec").cast("long")))
        out = {
            r.id: r.allowed
            for r in rate_limit_events(
                df, "k", "ts", max_events=1, window_seconds=60, order_col="id"
            ).collect()
        }
        assert out == {10: True, 11: False}
        a = rate_limit_events(df, "k", "ts", max_events=1, window_seconds=60, order_col="id").collect()
        b = rate_limit_events(df.repartition(5), "k", "ts", max_events=1, window_seconds=60, order_col="id").collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        with pytest.raises(ValueError):
            rate_limit_events(df, "k", "ts", max_events=0, window_seconds=60, order_col="id")
        with pytest.raises(ValueError):
            rate_limit_events(df, "k", "ts", max_events=1, window_seconds=0, order_col="id")


class TestMissingPeriods:
    def test_detects_missing_days(self, spark):
        from dbldatagen_spark.functions import missing_periods

        rows = [
            (1, "2024-01-01 10:00:00"), (2, "2024-01-02 09:00:00"),
            (3, "2024-01-05 08:00:00"),  # 3rd and 4th missing
            (4, "2024-01-05 23:00:00"),
        ]
        df = spark.createDataFrame(rows, ["id", "ts"]).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        out = [str(r.missing_start)[:10] for r in missing_periods(df, "ts").collect()]
        assert out == ["2024-01-03", "2024-01-04"]

    def test_grouped_and_complete(self, spark):
        from dbldatagen_spark.functions import missing_periods

        rows = [
            ("a", "2024-01-01"), ("a", "2024-01-03"),
            ("b", "2024-01-01"), ("b", "2024-01-02"),
        ]
        df = spark.createDataFrame(rows, ["g", "d"]).withColumn(
            "ts", F.col("d").cast("timestamp")
        )
        out = [(r.g, str(r.missing_start)[:10]) for r in missing_periods(
            df, "ts", group_col="g"
        ).collect()]
        assert out == [("a", "2024-01-02")]
        with pytest.raises(ValueError):
            missing_periods(df, "ts", period="year")


class TestSessionFeatures:
    def test_feature_row_shape(self, spark):
        from dbldatagen_spark.functions import session_features

        rows = [
            (1, "2024-01-01 10:00:00", "view", 1, 1.0),
            (1, "2024-01-01 10:10:00", "click", 2, 2.0),
            (1, "2024-01-01 10:20:00", "purchase", 3, 3.0),
            (1, "2024-01-01 12:00:00", "view", 4, 4.0),   # new session (bounce)
            (2, "2024-01-01 09:00:00", "error", 5, 5.0),  # bounce
        ]
        df = spark.createDataFrame(
            rows, ["user_id", "ts", "event_type", "event_id", "value"]
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = {
            (r.user_id, r.session_seq): r
            for r in session_features(
                df, "user_id", "ts",
                event_type_col="event_type", order_col="event_id",
                value_col="value",
            ).collect()
        }
        s1 = out[(1, 1)]
        assert (s1.n_events, s1.duration_seconds) == (3, 1200)
        assert (s1.entry_type, s1.exit_type) == ("view", "purchase")
        assert not s1.is_bounce and s1.session_value == 6.0
        assert out[(1, 2)].is_bounce and out[(1, 2)].duration_seconds == 0
        assert out[(2, 1)].is_bounce

    def test_matches_sessionize_counts(self, spark):
        from dbldatagen_spark.functions import session_features, sessionize

        events = spark.read.parquet(f"{SF}/events.parquet")
        feats = session_features(
            events, "user_id", "ts",
            event_type_col="event_type", order_col="event_id",
        )
        base = sessionize(events, "user_id", "ts")
        assert feats.count() == base.count()
        assert feats.agg(F.sum("n_events")).first()[0] == events.count()


class TestBloomJoins:
    def test_positions_deterministic_and_in_range(self, spark):
        from dbldatagen_spark.functions import bloom_positions_expr

        df = spark.range(0, 200).select(
            bloom_positions_expr(
                F.col("id"), num_bits=1024, num_hashes=4, seed=7
            ).alias("pos")
        )
        rows = df.collect()
        assert all(len(r.pos) == 4 for r in rows)
        assert all(0 <= p < 1024 for r in rows for p in r.pos)
        again = df.repartition(7).collect()
        assert sorted(map(tuple, (r.pos for r in rows))) == sorted(
            map(tuple, (r.pos for r in again))
        )

    def test_no_false_negatives(self, spark):
        from dbldatagen_spark.functions import (
            bloom_build,
            bloom_contains_expr,
        )

        keys = spark.range(0, 500).withColumn("k", F.col("id") * 3)
        words = bloom_build(keys, "k", num_bits=4096, num_hashes=5, seed=1)
        hits = keys.select(
            bloom_contains_expr(
                F.col("k"), words, num_bits=4096, num_hashes=5, seed=1
            ).alias("hit")
        )
        assert hits.where(~F.col("hit")).count() == 0

    def test_null_keys_skipped_and_test_false(self, spark):
        from dbldatagen_spark.functions import bloom_build, bloom_contains_expr

        df = spark.createDataFrame([(1,), (None,)], "k long")
        words = bloom_build(df, "k", num_bits=256, num_hashes=3, seed=0)
        out = df.select(
            bloom_contains_expr(
                F.col("k"), words, num_bits=256, num_hashes=3, seed=0
            ).alias("hit"),
            "k",
        ).collect()
        assert {r.k: r.hit for r in out} == {1: True, None: False}

    def test_md5_method_no_false_negatives_and_validation(self, spark):
        from dbldatagen_spark.functions import (
            bloom_build,
            bloom_contains_expr,
            bloom_positions_expr,
        )

        keys = spark.range(0, 300).select(F.col("id").alias("k"))
        words = bloom_build(
            keys, "k", num_bits=2048, num_hashes=5, seed=3, hash_method="md5"
        )
        hits = keys.where(
            bloom_contains_expr(
                F.col("k"), words, num_bits=2048, num_hashes=5, seed=3,
                hash_method="md5",
            )
        )
        assert hits.count() == 300  # every inserted key must test true
        # md5 and xxhash64 disagree on positions by design
        a = keys.select(bloom_positions_expr(
            F.col("k"), num_bits=2048, num_hashes=5, seed=3,
            hash_method="md5").alias("p")).collect()
        b = keys.select(bloom_positions_expr(
            F.col("k"), num_bits=2048, num_hashes=5, seed=3,
            hash_method="xxhash64").alias("p")).collect()
        assert [r.p for r in a] != [r.p for r in b]
        with pytest.raises(ValueError):
            bloom_positions_expr(
                F.col("k"), num_bits=2048, num_hashes=5, hash_method="sha9"
            )
        with pytest.raises(ValueError):
            # md5 windows are 24-bit: num_bits above 2^24 must refuse
            bloom_positions_expr(
                F.col("k"), num_bits=1 << 25, num_hashes=5, hash_method="md5"
            )

    def test_semi_join_matches_exact(self, spark):
        from dbldatagen_spark.functions import bloom_semi_join

        big = spark.range(0, 2000).select((F.col("id") % 700).alias("k"), "id")
        small = spark.range(0, 50).select((F.col("id") * 13).alias("k"))
        got = bloom_semi_join(big, small, "k", num_bits=1024, num_hashes=4)
        exact = big.join(small.distinct(), "k", "left_semi")
        assert got.count() == exact.count()
        assert got.exceptAll(exact).count() == 0
        assert exact.exceptAll(got).count() == 0

    def test_anti_join_matches_exact_including_nulls(self, spark):
        from dbldatagen_spark.functions import bloom_anti_join

        big = spark.createDataFrame(
            [(i % 90,) for i in range(600)] + [(None,)] * 3, "k int"
        ).withColumn("payload", F.md5(F.col("k").cast("string")))
        small = spark.range(0, 30).select((F.col("id") * 4).cast("int").alias("k"))
        got = bloom_anti_join(big, small, "k", num_bits=512, num_hashes=4)
        exact = big.join(small.distinct(), big["k"] == small["k"], "left_anti")
        assert got.count() == exact.count()
        assert got.where(F.col("k").isNull()).count() == 3
        assert got.exceptAll(exact).count() == 0

    def test_build_bounds_driver_traffic(self, spark):
        from dbldatagen_spark.functions import bloom_build

        words = bloom_build(
            spark.range(0, 10_000), "id", num_bits=64 * 8, num_hashes=2
        )
        assert len(words) == 8  # word-packed, never per-key driver rows

    def test_prebuilt_words_skip_build_job(self, spark):
        # r15: a semi/anti pair over one dim side shares ONE bloom build
        # via words=; passing the prebuilt words must run zero jobs at
        # construction and return rows identical to the internal build
        from dbldatagen_spark.functions import (
            bloom_anti_join, bloom_build, bloom_semi_join,
        )

        big = spark.range(0, 2000).select((F.col("id") % 700).alias("k"), "id")
        small = spark.range(0, 50).select((F.col("id") * 13).alias("k"))
        words = bloom_build(small, "k", num_bits=1024, num_hashes=4)

        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup(None) or [])
        semi = bloom_semi_join(
            big, small, "k", num_bits=1024, num_hashes=4, words=words
        )
        anti = bloom_anti_join(
            big, small, "k", num_bits=1024, num_hashes=4, words=words
        )
        after = len(tracker.getJobIdsForGroup(None) or [])
        assert after == before  # construction is fully lazy with words=

        semi_built = bloom_semi_join(big, small, "k", num_bits=1024, num_hashes=4)
        anti_built = bloom_anti_join(big, small, "k", num_bits=1024, num_hashes=4)
        assert semi.exceptAll(semi_built).count() == 0
        assert semi_built.exceptAll(semi).count() == 0
        assert anti.exceptAll(anti_built).count() == 0
        assert anti_built.exceptAll(anti).count() == 0

    def test_validation(self, spark):
        from dbldatagen_spark.functions import bloom_build, bloom_positions_expr

        with pytest.raises(ValueError):
            bloom_build(spark.range(1), "id", num_bits=100)
        with pytest.raises(ValueError):
            bloom_positions_expr(F.col("id"), num_bits=64, num_hashes=0)


class TestKMVSketch:
    def test_exact_below_k(self, spark):
        from dbldatagen_spark.functions import kmv_sketch

        df = spark.range(0, 1000).select((F.col("id") % 20).alias("v"))
        out = kmv_sketch(df, "v", k=64).first()
        assert out.n_kept == 20
        assert out.dv_estimate == 20.0
        assert len(out.sketch) == 20

    def test_estimate_accuracy_above_k(self, spark):
        from dbldatagen_spark.functions import kmv_sketch

        df = spark.range(0, 20_000).select((F.col("id") % 5000).alias("v"))
        est = kmv_sketch(df, "v", k=256).first().dv_estimate
        assert abs(est - 5000) / 5000 < 0.15  # ~1/sqrt(k) error band

    def test_grouped_and_null_excluded(self, spark):
        from dbldatagen_spark.functions import kmv_sketch

        df = spark.createDataFrame(
            [("a", 1), ("a", 2), ("a", None), ("b", 7)], "g string, v int"
        )
        out = {r.g: r for r in kmv_sketch(df, "v", group_cols=["g"], k=8).collect()}
        assert out["a"].n_kept == 2 and out["a"].dv_estimate == 2.0
        assert out["b"].n_kept == 1

    def test_merge_equals_whole(self, spark):
        from dbldatagen_spark.functions import (
            kmv_estimate_expr,
            kmv_merge_expr,
            kmv_sketch,
        )

        k = 32
        df = spark.range(0, 4000).select(
            (F.col("id") % 4).alias("part"), (F.col("id") % 700).alias("v")
        )
        per_part = kmv_sketch(df, "v", group_cols=["part"], k=k)
        merged = per_part.agg(
            F.collect_list("sketch").alias("all_sketches")
        ).select(
            kmv_estimate_expr(
                kmv_merge_expr(F.col("all_sketches"), k), k
            ).alias("est")
        ).first().est
        whole = kmv_sketch(df, "v", k=k).first().dv_estimate
        assert merged == whole

    def test_partition_independent(self, spark):
        from dbldatagen_spark.functions import kmv_sketch

        df = spark.range(0, 3000).select((F.col("id") % 311).alias("v"))
        a = kmv_sketch(df.repartition(3), "v", k=16).first()
        b = kmv_sketch(df.repartition(11), "v", k=16).first()
        assert a.sketch == b.sketch and a.dv_estimate == b.dv_estimate

    def test_validation(self, spark):
        from dbldatagen_spark.functions import kmv_sketch

        with pytest.raises(ValueError):
            kmv_sketch(spark.range(1), "id", k=1)


class TestKMVSetOps:
    def test_exact_below_k_reproduces_set_algebra(self, spark):
        # both sides' distinct counts fit under k, so the sketches ARE
        # the exact hash sets and every estimate is exact
        from dbldatagen_spark.functions import kmv_set_ops, kmv_sketch

        a = spark.range(0, 30).select(F.col("id").alias("v"))       # {0..29}
        b = spark.range(20, 50).select(F.col("id").alias("v"))      # {20..49}
        k = 64
        out = kmv_set_ops(
            kmv_sketch(a, "v", k=k), kmv_sketch(b, "v", k=k), k=k
        ).first()
        assert out.n_union_kept == 50          # |A ∪ B| exactly
        assert out.n_common == 10              # |A ∩ B| exactly
        assert out.union_estimate == 50.0
        assert abs(out.jaccard_estimate - 10 / 50) < 1e-12
        assert abs(out.intersection_estimate - 10.0) < 1e-9

    def test_estimates_above_k_in_error_band(self, spark):
        from dbldatagen_spark.functions import kmv_set_ops, kmv_sketch

        n, overlap, k = 4000, 1000, 256
        a = spark.range(0, n).select(F.col("id").alias("v"))
        b = spark.range(n - overlap, 2 * n - overlap).select(
            F.col("id").alias("v")
        )
        out = kmv_set_ops(
            kmv_sketch(a, "v", k=k), kmv_sketch(b, "v", k=k), k=k
        ).first()
        true_union = 2 * n - overlap
        assert abs(out.union_estimate - true_union) / true_union < 0.2
        assert abs(out.intersection_estimate - overlap) / overlap < 0.5

    def test_grouped_pairs(self, spark):
        from dbldatagen_spark.functions import kmv_set_ops, kmv_sketch

        df = spark.createDataFrame(
            [("g1", 1), ("g1", 2), ("g2", 7), ("g2", 8)], "g string, v int"
        )
        sa = kmv_sketch(df, "v", group_cols=["g"], k=8)
        out = {r.g: r for r in kmv_set_ops(
            sa, sa, k=8, join_cols=["g"]).collect()}
        # a sketch against itself: union == intersection == itself
        for g, n in (("g1", 2), ("g2", 2)):
            assert out[g].n_union_kept == n and out[g].n_common == n
            assert abs(out[g].jaccard_estimate - 1.0) < 1e-12

    def test_validation(self, spark):
        from dbldatagen_spark.functions import kmv_set_ops, kmv_sketch

        df = spark.createDataFrame(
            [("a", 1), ("b", 2)], "g string, v int"
        )
        grouped = kmv_sketch(df, "v", group_cols=["g"], k=4)
        glob = kmv_sketch(df, "v", k=4)
        with pytest.raises(ValueError, match="single-row"):
            kmv_set_ops(grouped, glob, k=4)
        with pytest.raises(ValueError):
            kmv_set_ops(glob, glob, k=1)


class TestEWMA:
    def test_recurrence_exact(self, spark):
        from dbldatagen_spark.functions import ewma

        df = spark.createDataFrame(
            [("u", "2024-01-01 00:00:00", 1, 10.0),
             ("u", "2024-01-01 00:01:00", 2, 20.0),
             ("u", "2024-01-01 00:02:00", 3, 30.0)],
            "k string, ts string, oid int, v double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = {r.oid: r.ewma for r in
               ewma(df, "k", "ts", "v", alpha=0.5, order_col="oid").collect()}
        assert out[1] == 10.0
        assert out[2] == 0.5 * 20.0 + 0.5 * 10.0
        assert out[3] == 0.5 * 30.0 + 0.5 * out[2]

    def test_alpha_one_is_identity(self, spark):
        from dbldatagen_spark.functions import ewma

        events = spark.read.parquet(f"{SF}/events.parquet")
        out = ewma(events, "user_id", "ts", "value",
                   alpha=1.0, order_col="event_id")
        assert out.where(F.col("ewma") != F.col("value")).count() == 0
        assert out.count() == events.where(F.col("value").isNotNull()).count()

    def test_ts_ties_break_by_order_col(self, spark):
        from dbldatagen_spark.functions import ewma

        df = spark.createDataFrame(
            [("u", "2024-01-01", 2, 100.0), ("u", "2024-01-01", 1, 0.0)],
            "k string, ts string, oid int, v double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = {r.oid: r.ewma for r in
               ewma(df, "k", "ts", "v", alpha=0.5, order_col="oid").collect()}
        assert out[1] == 0.0 and out[2] == 50.0

    def test_partition_independent(self, spark):
        from dbldatagen_spark.functions import ewma

        events = spark.read.parquet(f"{SF}/events.parquet")
        a = sorted(map(tuple, ewma(events.repartition(3), "user_id", "ts",
                                   "value", alpha=0.25,
                                   order_col="event_id").collect()))
        b = sorted(map(tuple, ewma(events.repartition(13), "user_id", "ts",
                                   "value", alpha=0.25,
                                   order_col="event_id").collect()))
        assert a == b

    def test_validation(self, spark):
        from dbldatagen_spark.functions import ewma

        with pytest.raises(ValueError):
            ewma(spark.range(1), "id", "id", "id", alpha=0.0, order_col="id")


class TestFoldKeyGuard:
    """max_events_per_key hot-key guard across the batch fold family:
    a planted viral key is diverted BEFORE its array builds, bounded
    keys are bit-identical to the unguarded run, and fold_key_report
    names every diverted key — no silent caps."""

    def _hot_cold(self, spark, n_hot=12, n_cold=3):
        rows = [("hot", f"2024-01-01 00:{i:02d}:00", i, float(i))
                for i in range(n_hot)]
        rows += [("cold", f"2024-01-01 00:{i:02d}:00", 100 + i, 10.0 * i)
                 for i in range(n_cold)]
        rows.append(("hot", "2024-01-01 01:00:00", 999, None))  # null excluded
        return spark.createDataFrame(
            rows, "k string, ts string, oid int, v double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    def test_ewma_diverts_hot_key_others_bitexact(self, spark):
        from dbldatagen_spark.functions import ewma

        df = self._hot_cold(spark)
        capped = ewma(df, "k", "ts", "v", alpha=0.5, order_col="oid",
                      max_events_per_key=10, on_oversized="divert")
        assert capped.where(F.col("k") == "hot").count() == 0
        cold_capped = sorted(map(tuple,
                                 capped.where(F.col("k") == "cold").collect()))
        full = ewma(df, "k", "ts", "v", alpha=0.5, order_col="oid",
                    max_events_per_key=None)
        cold_full = sorted(map(tuple,
                               full.where(F.col("k") == "cold").collect()))
        assert cold_capped == cold_full
        assert full.where(F.col("k") == "hot").count() == 12

    def test_cap_counts_post_filter_events(self, spark):
        from dbldatagen_spark.functions import ewma

        # hot has 12 non-null events + 1 null; cap=12 must keep it
        # (the null row is excluded before counting)
        df = self._hot_cold(spark)
        out = ewma(df, "k", "ts", "v", alpha=0.5, order_col="oid",
                   max_events_per_key=12)
        assert out.where(F.col("k") == "hot").count() == 12

    def test_report_names_diverted_keys(self, spark):
        from dbldatagen_spark.functions import fold_key_report

        df = self._hot_cold(spark)
        rep = fold_key_report(df, "k", max_events_per_key=10,
                              where="v IS NOT NULL").collect()
        assert [(r.key, r.n_events, r.action) for r in rep] == [
            ("hot", 12, "diverted")
        ]
        # cap above every key -> empty report (guard never fired)
        assert fold_key_report(df, "k", max_events_per_key=100,
                               where="v IS NOT NULL").count() == 0

    def test_cusum_trajectory_autocorr_respect_cap(self, spark):
        from dbldatagen_spark.functions import (
            autocorrelation, cusum_flags, trajectory_vectors,
        )

        df = self._hot_cold(spark)
        cu = cusum_flags(df, "k", "ts", "v", drift=0.1, threshold=5.0,
                         order_col="oid", max_events_per_key=10,
                         on_oversized="divert")
        assert cu.where(F.col("k") == "hot").count() == 0
        assert cu.where(F.col("k") == "cold").count() == 3
        tv = trajectory_vectors(df, "k", "ts", "v", n_points=4,
                                max_events_per_key=10,
                                on_oversized="divert")
        assert [r.k for r in tv.collect()] == ["cold"]
        ac = autocorrelation(df, "k", "ts", "v", lag=1, order_col="oid",
                             max_events_per_key=10,
                             on_oversized="divert")
        assert [r.k for r in ac.collect()] == ["cold"]

    def test_shared_guard_one_prepass_for_three_folds(self, spark):
        # FoldKeyGuard runs the eager key-count job ONCE at
        # construction; three guarded folds then add ZERO further jobs
        # until their own actions, and results match the cap=None path
        from dbldatagen_spark.functions import (
            FoldKeyGuard, cusum_flags, ewma, trajectory_vectors,
        )

        df = self._hot_cold(spark)
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        sc.setJobGroup("foldguard-prepass", "guard-once test")
        try:
            guard = FoldKeyGuard(df, "k", max_events_per_key=100,
                                 where="v IS NOT NULL")
            after_guard = set(tracker.getJobIdsForGroup("foldguard-prepass"))
            a = ewma(df, "k", "ts", "v", alpha=0.5, order_col="oid",
                     max_events_per_key=guard)
            b = cusum_flags(df, "k", "ts", "v", drift=0.1, threshold=5.0,
                            order_col="oid", max_events_per_key=guard)
            c = trajectory_vectors(df, "k", "ts", "v", n_points=4,
                                   max_events_per_key=guard)
            after_folds = set(tracker.getJobIdsForGroup("foldguard-prepass"))
        finally:
            sc.setJobGroup("", "")
        assert len(after_guard) >= 1          # the single pre-pass ran
        assert after_folds == after_guard     # folds added no jobs
        ref = ewma(df, "k", "ts", "v", alpha=0.5, order_col="oid",
                   max_events_per_key=None)
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, ref.collect()))
        assert b.count() == cusum_flags(
            df, "k", "ts", "v", drift=0.1, threshold=5.0,
            order_col="oid", max_events_per_key=None,
        ).count()
        assert c.count() == 2

    def test_shared_guard_error_and_divert_modes(self, spark):
        from dbldatagen_spark.functions import FoldKeyGuard, ewma

        df = self._hot_cold(spark)
        # error mode raises at construction, naming the hot key
        with pytest.raises(ValueError, match="hot=12 events"):
            FoldKeyGuard(df, "k", max_events_per_key=10,
                         where="v IS NOT NULL")
        # divert mode: one collect at construction, every guarded fold
        # drops the same key set via a broadcast anti-join
        guard = FoldKeyGuard(df, "k", max_events_per_key=10,
                             on_oversized="divert", where="v IS NOT NULL")
        out = ewma(df, "k", "ts", "v", alpha=0.5, order_col="oid",
                   max_events_per_key=guard)
        assert out.where(F.col("k") == "hot").count() == 0
        assert out.where(F.col("k") == "cold").count() == 3
        with pytest.raises(ValueError, match="max_events_per_key"):
            FoldKeyGuard(df, "k", max_events_per_key=0)
        with pytest.raises(ValueError, match="on_oversized"):
            FoldKeyGuard(df, "k", max_events_per_key=5, on_oversized="nope")

    def test_funnel_diverts_hot_user(self, spark):
        from dbldatagen_spark.functions import funnel_steps

        rows = [(1, f"2024-01-01 00:{i:02d}:00", "view") for i in range(8)]
        rows += [(1, "2024-01-01 01:00:00", "click")]
        rows += [(2, "2024-01-01 00:00:00", "view"),
                 (2, "2024-01-01 00:01:00", "click"),
                 (2, "2024-01-01 02:00:00", "ignored")]  # filtered pre-count
        df = spark.createDataFrame(
            rows, "user_id int, ts string, step string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        capped = {r.step: r.n_users
                  for r in funnel_steps(df, "user_id", "ts", "step",
                                        ["view", "click"],
                                        max_events_per_key=5,
                                        on_oversized="divert").collect()}
        assert capped == {"view": 1, "click": 1}  # user 1 (9 events) diverted
        full = {r.step: r.n_users
                for r in funnel_steps(df, "user_id", "ts", "step",
                                      ["view", "click"],
                                      max_events_per_key=None).collect()}
        assert full == {"view": 2, "click": 2}

    def test_rate_limit_diverts_hot_key(self, spark):
        from dbldatagen_spark.functions import rate_limit_events

        df = self._hot_cold(spark)
        out = rate_limit_events(df, "k", "ts", max_events=2,
                                window_seconds=3600, order_col="oid",
                                max_events_per_key=10,
                                on_oversized="divert")
        assert {r.k for r in out.collect()} == {"cold"}  # hot diverted
        full = rate_limit_events(df, "k", "ts", max_events=2,
                                 window_seconds=3600, order_col="oid",
                                 max_events_per_key=None)
        assert {r.k for r in full.collect()} == {"cold", "hot"}

    def test_default_errors_loudly_on_hot_key(self, spark):
        # the default is FAIL, not silent row removal: results either
        # cover every key (equal to any oracle replay by construction)
        # or the action raises naming the offender.  The cap is
        # enforced IN-PLAN (raise_error over the collected array — no
        # eager pre-pass job since r15), so the failure surfaces at
        # the action, wrapped in Spark's runtime-exception type.
        from dbldatagen_spark.functions import ewma

        df = self._hot_cold(spark)
        guarded = ewma(df, "k", "ts", "v", alpha=0.5, order_col="oid",
                       max_events_per_key=10)
        with pytest.raises(Exception, match="key hot has 12 events"):
            guarded.collect()

    def test_default_guard_adds_no_job_until_action(self, spark):
        # the "error" default must be fully lazy: constructing the
        # guarded fold runs ZERO Spark jobs (the r14 implementation
        # ran an eager count job per call — a full input scan)
        from dbldatagen_spark.functions import ewma

        df = self._hot_cold(spark)
        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup(None) or [])
        ewma(df, "k", "ts", "v", alpha=0.5, order_col="oid",
             max_events_per_key=10)
        after = len(tracker.getJobIdsForGroup(None) or [])
        assert after == before

    def test_default_passes_through_when_bounded(self, spark):
        # healthy data under the default mode folds ALL keys and the
        # plan keeps its single key shuffle (no anti-join)
        from dbldatagen_spark.functions import ewma

        df = self._hot_cold(spark)
        out = ewma(df, "k", "ts", "v", alpha=0.5, order_col="oid",
                   max_events_per_key=100)
        assert out.count() == 15  # 12 hot + 3 cold non-null events
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" not in plan

    def test_bad_mode_rejected(self, spark):
        from dbldatagen_spark.functions import ewma

        with pytest.raises(ValueError, match="on_oversized"):
            ewma(self._hot_cold(spark), "k", "ts", "v", alpha=0.5,
                 order_col="oid", max_events_per_key=10,
                 on_oversized="drop")

    def test_validation(self, spark):
        from dbldatagen_spark.functions import ewma, fold_key_report

        with pytest.raises(ValueError):
            ewma(spark.range(1), "id", "id", "id", alpha=0.5,
                 order_col="id", max_events_per_key=0)
        with pytest.raises(ValueError):
            fold_key_report(spark.range(1), "id", max_events_per_key=0)


class TestDeriveCDC:
    def _snapshots(self, spark):
        before = spark.createDataFrame(
            [(1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0),
             (4, None, 40.0)],
            "key int, name string, score double",
        )
        after = spark.createDataFrame(
            [(1, "alice", 10.0),          # unchanged
             (2, "bob", 25.0),            # updated
             (4, "dave", None),           # updated (null moves column)
             (5, "erin", 50.0)],          # inserted; 3 deleted
            "key int, name string, score double",
        )
        return before, after

    def test_ops(self, spark):
        from dbldatagen_spark.functions import derive_cdc

        before, after = self._snapshots(spark)
        out = {r.key: r.op for r in derive_cdc(before, after, ["key"]).collect()}
        assert out == {2: "U", 3: "D", 4: "U", 5: "I"}

    def test_include_unchanged_and_null_positions(self, spark):
        from dbldatagen_spark.functions import derive_cdc

        before, after = self._snapshots(spark)
        out = {r.key: r.op for r in
               derive_cdc(before, after, ["key"], include_unchanged=True).collect()}
        assert out[1] == "N" and len(out) == 5
        # (NULL, x) vs (x, NULL) must NOT collide to "unchanged"
        b = spark.createDataFrame([(1, None, "x")], "key int, a string, b string")
        a = spark.createDataFrame([(1, "x", None)], "key int, a string, b string")
        assert derive_cdc(b, a, ["key"]).collect()[0].op == "U"

    def test_roundtrip_apply(self, spark):
        """apply_cdc(before-as-inserts + derived changelog) == after."""
        from dbldatagen_spark.functions import apply_cdc, derive_cdc

        before, after = self._snapshots(spark)
        ops = derive_cdc(before, after, ["key"])
        # payload for I/U comes from `after`; D rows carry null payload
        log = (
            before.selectExpr("key", "name", "score", "'I' as op", "0L as seq")
            .unionByName(
                ops.join(after, "key", "left")
                .selectExpr("key", "name", "score", "op", "1L as seq")
            )
        )
        got = sorted(map(tuple, apply_cdc(log, ["key"], "seq").collect()))
        want = sorted(map(tuple, after.collect()))
        assert got == want

    def test_compare_cols_subset_and_validation(self, spark):
        from dbldatagen_spark.functions import derive_cdc

        before, after = self._snapshots(spark)
        out = {r.key: r.op for r in
               derive_cdc(before, after, ["key"], compare_cols=["name"]).collect()}
        assert out == {3: "D", 4: "U", 5: "I"}  # key 2 only changed score
        with pytest.raises(ValueError):
            derive_cdc(before, after, [])
        with pytest.raises(ValueError):
            derive_cdc(before.select("key"), after.select("key"), ["key"])
        with pytest.raises(ValueError):
            derive_cdc(before.select("key", "name"), after, ["key"],
                       compare_cols=["score"])


class TestCUSUM:
    def _shift(self, spark):
        # in-control at 0.0 for 5 points, then a +2 level shift
        rows = [("u", f"2024-01-01 00:0{i}:00", i, 0.0) for i in range(5)]
        rows += [("u", f"2024-01-01 00:1{i}:00", 10 + i, 2.0) for i in range(5)]
        return spark.createDataFrame(
            rows, "k string, ts string, oid int, v double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    def test_detects_upward_shift(self, spark):
        from dbldatagen_spark.functions import cusum_flags

        out = cusum_flags(self._shift(spark), "k", "ts", "v",
                          drift=0.5, threshold=2.0, order_col="oid",
                          target=0.0)
        rows = {r.oid: r for r in out.collect()}
        assert not any(rows[i].alarm for i in range(5))       # in control
        assert rows[11].alarm                                 # 1.5+1.5 > 2
        assert rows[10].cusum_pos == 1.5 and rows[11].cusum_pos == 3.0

    def test_reset_on_alarm(self, spark):
        from dbldatagen_spark.functions import cusum_flags

        df = self._shift(spark)
        reset = {r.oid: r.cusum_pos for r in
                 cusum_flags(df, "k", "ts", "v", drift=0.5, threshold=2.0,
                             order_col="oid", target=0.0).collect()}
        hold = {r.oid: r.cusum_pos for r in
                cusum_flags(df, "k", "ts", "v", drift=0.5, threshold=2.0,
                            order_col="oid", target=0.0,
                            reset_on_alarm=False).collect()}
        assert reset[12] == 1.5 and hold[12] == 4.5  # restarted vs kept

    def test_downward_shift_and_self_target(self, spark):
        from dbldatagen_spark.functions import cusum_flags

        rows = [("u", f"2024-01-01 00:{i:02d}:00", i, 10.0) for i in range(10)]
        rows += [("u", f"2024-01-01 01:{i:02d}:00", 100 + i, 0.0)
                 for i in range(3)]
        df = spark.createDataFrame(
            rows, "k string, ts string, oid int, v double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = cusum_flags(df, "k", "ts", "v", drift=1.0, threshold=5.0,
                          order_col="oid")  # target = key mean (~7.7)
        assert any(r.alarm and r.cusum_neg > 5.0 for r in out.collect())

    def test_partition_independent(self, spark):
        from dbldatagen_spark.functions import cusum_flags

        events = spark.read.parquet(f"{SF}/events.parquet")
        def run(n):
            return sorted(map(tuple, cusum_flags(
                events.repartition(n), "user_id", "ts", "value",
                drift=0.25, threshold=1.5, order_col="event_id").collect()))
        assert run(3) == run(13)

    def test_validation(self, spark):
        from dbldatagen_spark.functions import cusum_flags

        with pytest.raises(ValueError):
            cusum_flags(spark.range(1), "id", "id", "id",
                        drift=-1.0, threshold=1.0, order_col="id")
        with pytest.raises(ValueError):
            cusum_flags(spark.range(1), "id", "id", "id",
                        drift=0.0, threshold=0.0, order_col="id")


class TestCMS:
    def test_never_undershoots_and_exact_when_wide(self, spark):
        from dbldatagen_spark.functions import cms_estimate, cms_sketch

        events = spark.read.parquet(f"{SF}/events.parquet")
        exact = {r.user_id: r.cnt for r in
                 events.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()}
        # narrow sketch: estimates may collide but never undershoot
        sk = cms_sketch(events, "user_id", width=16, depth=3, seed=7)
        est = {r.user_id: r.cms_count for r in
               cms_estimate(sk, events, "user_id",
                            width=16, depth=3, seed=7).collect()}
        assert set(est) == set(exact)
        assert all(est[u] >= exact[u] for u in exact)
        # wide sketch: no collisions at this cardinality -> exact
        wide = cms_sketch(events, "user_id", width=4096, depth=4, seed=7)
        est_w = {r.user_id: r.cms_count for r in
                 cms_estimate(wide, events, "user_id",
                              width=4096, depth=4, seed=7).collect()}
        assert est_w == exact

    def test_merge_equals_union(self, spark):
        from dbldatagen_spark.functions import cms_merge, cms_sketch

        events = spark.read.parquet(f"{SF}/events.parquet")
        a = events.where("event_id % 2 = 0")
        b = events.where("event_id % 2 = 1")
        merged = cms_merge(
            [cms_sketch(a, "user_id", width=32, depth=3),
             cms_sketch(b, "user_id", width=32, depth=3)]
        )
        whole = cms_sketch(events, "user_id", width=32, depth=3)
        assert sorted(map(tuple, merged.collect())) == \
               sorted(map(tuple, whole.collect()))

    def test_absent_probe_is_zero(self, spark):
        from dbldatagen_spark.functions import cms_estimate, cms_sketch

        df = spark.createDataFrame([(1,), (1,), (2,)], ["v"])
        sk = cms_sketch(df, "v", width=1024, depth=4)
        probes = spark.createDataFrame([(1,), (99,)], ["v"])
        est = {r.v: r.cms_count for r in
               cms_estimate(sk, probes, "v", width=1024, depth=4).collect()}
        assert est == {1: 2, 99: 0}

    def test_sketch_is_bounded(self, spark):
        from dbldatagen_spark.functions import cms_sketch

        events = spark.read.parquet(f"{SF}/events.parquet")
        sk = cms_sketch(events, "event_id", width=8, depth=2)  # all distinct
        assert sk.count() <= 8 * 2

    def test_validation(self, spark):
        from dbldatagen_spark.functions import cms_estimate, cms_merge, cms_sketch

        with pytest.raises(ValueError):
            cms_sketch(spark.range(1), "id", width=1)
        with pytest.raises(ValueError):
            cms_sketch(spark.range(1), "id", depth=0)
        with pytest.raises(ValueError):
            cms_merge([])
        with pytest.raises(ValueError):
            cms_estimate(spark.range(1), spark.range(1), "id", width=1, depth=1)


class TestCMSJoinSize:
    def test_never_undershoots_exact_when_wide(self, spark):
        from dbldatagen_spark.functions import cms_join_size, cms_sketch

        events = spark.read.parquet(f"{SF}/events.parquet")
        a = events.where("event_id % 2 = 0")
        b = events.where("event_id % 2 = 1")
        exact = a.join(b, "user_id").count()
        est_n = cms_join_size(
            cms_sketch(a, "user_id", width=16, depth=3),
            cms_sketch(b, "user_id", width=16, depth=3),
        ).collect()[0].join_size_estimate
        assert est_n >= exact
        est_w = cms_join_size(
            cms_sketch(a, "user_id", width=4096, depth=4),
            cms_sketch(b, "user_id", width=4096, depth=4),
        ).collect()[0].join_size_estimate
        assert est_w == exact

    def test_disjoint_keys_wide_sketch_is_zero(self, spark):
        from dbldatagen_spark.functions import cms_join_size, cms_sketch

        a = spark.createDataFrame([(i,) for i in range(50)], ["v"])
        b = spark.createDataFrame([(i,) for i in range(100, 150)], ["v"])
        est = cms_join_size(
            cms_sketch(a, "v", width=8192, depth=4),
            cms_sketch(b, "v", width=8192, depth=4),
        ).collect()[0].join_size_estimate
        assert est == 0


class TestHistogramSketch:
    def test_bins_and_clamping(self, spark):
        from dbldatagen_spark.functions import histogram_sketch

        df = spark.createDataFrame(
            [(-5.0,), (0.0,), (2.5,), (7.5,), (10.0,), (99.0,)], ["v"]
        )
        sk = {r.bin: r.cnt for r in
              histogram_sketch(df, "v", lo=0.0, hi=10.0, bins=4).collect()}
        # w=2.5: bin0=[-inf clamp,2.5) gets -5,0; bin1 gets 2.5; bin3 gets 7.5,10,99
        assert sk == {0: 2, 1: 1, 3: 3}

    def test_merge_equals_union(self, spark):
        from dbldatagen_spark.functions import histogram_merge, histogram_sketch

        events = spark.read.parquet(f"{SF}/events.parquet")
        a = events.where("event_id % 2 = 0")
        b = events.where("event_id % 2 = 1")
        merged = histogram_merge(
            [histogram_sketch(a, "value", lo=0.0, hi=100.0, bins=64),
             histogram_sketch(b, "value", lo=0.0, hi=100.0, bins=64)]
        )
        whole = histogram_sketch(events, "value", lo=0.0, hi=100.0, bins=64)
        assert sorted(map(tuple, merged.collect())) == \
               sorted(map(tuple, whole.collect()))

    def test_quantile_within_bin_width_of_rank_value(self, spark):
        import math

        from dbldatagen_spark.functions import histogram_quantiles, histogram_sketch

        events = spark.read.parquet(f"{SF}/events.parquet")
        sk = histogram_sketch(events, "value", lo=0.0, hi=600.0, bins=1200)
        est = {r.q: r.estimate for r in
               histogram_quantiles(sk, [0.5, 0.9], lo=0.0, hi=600.0,
                                   bins=1200).collect()}
        # the walk stops at the bin holding rank ceil(q*n), so the value
        # at that rank bounds the estimate to one bin width (w=0.5)
        vals = sorted(r.value for r in events.select("value").collect()
                      if r.value is not None)
        for q in (0.5, 0.9):
            rank_val = vals[math.ceil(q * len(vals)) - 1]
            assert abs(est[q] - rank_val) <= 0.5, (q, est[q], rank_val)

    def test_boundary_lands_on_shared_edge(self, spark):
        from dbldatagen_spark.functions import histogram_quantiles, histogram_sketch

        # 4 values: two in bin0, two in bin1; q=0.5 -> target=2 = cum of bin0
        df = spark.createDataFrame([(1.0,), (2.0,), (6.0,), (7.0,)], ["v"])
        sk = histogram_sketch(df, "v", lo=0.0, hi=10.0, bins=2)
        est = histogram_quantiles(sk, [0.5], lo=0.0, hi=10.0, bins=2).collect()
        assert est[0].estimate == 5.0  # upper edge of bin0 == lower of bin1

    def test_grouped_and_q1_is_max_edge(self, spark):
        from dbldatagen_spark.functions import histogram_quantiles, histogram_sketch

        events = spark.read.parquet(f"{SF}/events.parquet")
        sk = histogram_sketch(events, "value", lo=0.0, hi=100.0, bins=32,
                              group_cols=["event_type"])
        out = histogram_quantiles(sk, [1.0], lo=0.0, hi=100.0, bins=32,
                                  group_cols=["event_type"])
        for r in out.collect():
            assert 0.0 < r.estimate <= 100.0

    def test_validation(self, spark):
        from dbldatagen_spark.functions import (
            histogram_merge, histogram_quantiles, histogram_sketch,
        )

        df = spark.range(1).selectExpr("cast(id as double) as v")
        with pytest.raises(ValueError):
            histogram_sketch(df, "v", lo=0.0, hi=0.0, bins=4)
        with pytest.raises(ValueError):
            histogram_sketch(df, "v", lo=0.0, hi=1.0, bins=0)
        with pytest.raises(ValueError):
            histogram_merge([])
        sk = histogram_sketch(df, "v", lo=0.0, hi=1.0, bins=4)
        with pytest.raises(ValueError):
            histogram_quantiles(sk, [], lo=0.0, hi=1.0, bins=4)
        with pytest.raises(ValueError):
            histogram_quantiles(sk, [0.0], lo=0.0, hi=1.0, bins=4)


class TestCMSHeavyHitters:
    def test_no_false_negatives_and_impostors_flagged(self, spark):
        from dbldatagen_spark.functions import cms_heavy_hitters

        events = spark.read.parquet(f"{SF}/events.parquet")
        exact = {r.user_id: r.cnt for r in
                 events.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()}
        thresh = sorted(exact.values())[-3]  # threshold at the 3rd-largest count
        out = {r.user_id: r for r in
               cms_heavy_hitters(events, "user_id", threshold=thresh,
                                 width=16, depth=2).collect()}
        true_heavy = {u for u, c in exact.items() if c >= thresh}
        # every true hitter survives the narrow screen…
        assert true_heavy <= set(out)
        assert all(out[u].is_heavy for u in true_heavy)
        # …impostors are present but flagged, with correct exact counts
        for u, r in out.items():
            assert r.exact_count == exact[u]
            assert r.cms_count >= r.exact_count
            assert r.is_heavy == (exact[u] >= thresh)

    def test_validation(self, spark):
        from dbldatagen_spark.functions import cms_heavy_hitters

        with pytest.raises(ValueError):
            cms_heavy_hitters(spark.range(1), "id", threshold=0)

    def test_frame_threshold_matches_int_and_adds_no_job(self, spark):
        """threshold passed as a ONE-row frame (the r15 fused path:
        data-derived thresholds ride the plan as a broadcast) must
        return exactly the int-threshold rows, and constructing the
        frame-threshold query must submit zero Spark jobs — the whole
        point of the fusion is killing the eager scalar job."""
        from dbldatagen_spark.functions import cms_heavy_hitters

        events = spark.read.parquet(f"{SF}/events.parquet")
        exact = {r.user_id: r.cnt for r in
                 events.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()}
        thresh = sorted(exact.values())[-3]
        thr_frame = spark.createDataFrame([(thresh,)], "thr long")

        sc = spark.sparkContext
        n0 = sc._jsc.sc().dagScheduler().nextJobId()
        framed = cms_heavy_hitters(events, "user_id", threshold=thr_frame,
                                   width=16, depth=2)
        n1 = sc._jsc.sc().dagScheduler().nextJobId()
        assert n1 - n0 == 0

        ints = cms_heavy_hitters(events, "user_id", threshold=thresh,
                                 width=16, depth=2)
        assert (sorted(map(tuple, framed.collect()))
                == sorted(map(tuple, ints.collect())))


class TestImagePhash:
    def test_identical_images_hash_equal(self, spark):
        from dbldatagen_spark.functions import image_phash
        from dbldatagen_spark.functions.multimodal import synthesize_ppm_table

        base = synthesize_ppm_table(spark, rows=20, partitions=2, size=16)
        dup = base.selectExpr("media_id + 100 as media_id", "payload")
        hashes = {r.media_id: r.phash
                  for r in image_phash(base.unionByName(dup)).collect()}
        for i in range(20):
            assert hashes[i] == hashes[i + 100]

    def test_brightness_shift_invariance(self, spark):
        """The average-hash thresholds each block at the image mean, so
        a uniform brightness shift (no clipping) cannot change it."""
        import numpy as np

        from dbldatagen_spark.functions import image_phash
        from dbldatagen_spark.functions.multimodal import encode_ppm

        rows = []
        for i in range(10):
            rng = np.random.default_rng(i)
            px = rng.integers(0, 200, size=(16, 16, 3), dtype=np.uint8)
            rows.append((i, bytearray(encode_ppm(px))))
            rows.append((i + 100, bytearray(encode_ppm(px + 40))))  # <=239
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        hashes = {r.media_id: r.phash for r in image_phash(df).collect()}
        for i in range(10):
            assert hashes[i] == hashes[i + 100]

    def test_near_duplicates_finds_planted_pairs(self, spark):
        from dbldatagen_spark.functions import image_near_duplicates
        from dbldatagen_spark.functions.multimodal import synthesize_ppm_table

        base = synthesize_ppm_table(spark, rows=30, partitions=3, size=16)
        dup = base.selectExpr("media_id + 1000 as media_id", "payload")
        pairs = image_near_duplicates(base.unionByName(dup))
        got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
        for i in range(30):
            assert got[(i, i + 1000)] == 0  # every planted pair, hamming 0

    def test_validation(self, spark):
        from dbldatagen_spark.functions import image_near_duplicates, image_phash

        df = spark.range(1)
        with pytest.raises(ValueError):
            image_phash(df, hash_size=16)
        with pytest.raises(ValueError):
            image_near_duplicates(df, bands=3)
        with pytest.raises(ValueError):
            image_near_duplicates(df, max_hamming=4, bands=4)  # pigeonhole
        with pytest.raises(ValueError):
            image_near_duplicates(df, max_hamming=-1)


class TestAudioFingerprint:
    def test_identical_and_gain_scaled_clips(self, spark):
        import numpy as np

        from dbldatagen_spark.functions import audio_fingerprint
        from dbldatagen_spark.functions.multimodal import encode_wav

        rows = []
        for i in range(10):
            rng = np.random.default_rng(i + 1)
            t = np.arange(800) / 16000.0
            wave = 0.6 * np.sin(2 * np.pi * (200 + i * 100) * t)
            wave += 0.1 * rng.standard_normal(800)
            pcm = np.clip(wave * 32767, -32768, 32767).astype(np.int16)
            rows.append((i, bytearray(encode_wav(pcm))))
            rows.append((i + 100, bytearray(encode_wav(pcm))))        # twin
            rows.append((i + 200, bytearray(encode_wav(pcm // 2))))   # -6 dB
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        fps = {r.media_id: r.afp for r in audio_fingerprint(df).collect()}
        for i in range(10):
            assert fps[i] == fps[i + 100]                      # exact twin
            ham = bin((fps[i] ^ fps[i + 200]) & (2**64 - 1)).count("1")
            assert ham <= 3, (i, ham)                          # gain invariant

    def test_near_duplicates_finds_planted(self, spark):
        from dbldatagen_spark.functions import audio_near_duplicates
        from dbldatagen_spark.functions.multimodal import synthesize_wav_table

        base = synthesize_wav_table(spark, rows=30, partitions=3)
        dup = base.selectExpr("media_id + 1000 as media_id", "payload")
        pairs = audio_near_duplicates(base.unionByName(dup))
        got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
        for i in range(30):
            assert got[(i, i + 1000)] == 0

    def test_validation(self, spark):
        from dbldatagen_spark.functions import (
            audio_fingerprint, hamming_near_duplicates,
        )

        df = spark.range(1)
        with pytest.raises(ValueError):
            audio_fingerprint(df, n_frames=32)
        with pytest.raises(ValueError):
            hamming_near_duplicates(df, "id", "id", bands=5)
        with pytest.raises(ValueError):
            hamming_near_duplicates(df, "id", "id", max_hamming=8, bands=8)


class TestCMSGlobalGuard:
    def test_grouped_sketch_rejected(self, spark):
        from dbldatagen_spark.functions import (
            cms_estimate, cms_join_size, cms_sketch,
        )

        events = spark.read.parquet(f"{SF}/events.parquet")
        grouped = cms_sketch(events, "user_id", width=32, depth=2,
                             group_cols=["event_type"])
        with pytest.raises(ValueError, match="GLOBAL sketch"):
            cms_estimate(grouped, events, "user_id", width=32, depth=2)
        glob = cms_sketch(events, "user_id", width=32, depth=2)
        with pytest.raises(ValueError, match="GLOBAL sketch"):
            cms_join_size(glob, grouped)


class TestVideoFingerprint:
    def test_twins_and_trimmed_clip(self, spark):
        import numpy as np

        from dbldatagen_spark.functions import video_fingerprint
        from dbldatagen_spark.functions.multimodal import encode_ppm_video

        rows = []
        for i in range(8):
            rng = np.random.default_rng(i + 1)
            base = rng.integers(0, 200, size=(16, 16, 3), dtype=np.uint8)
            frames = [
                np.clip(base.astype(np.int32) + 3 * j, 0, 255).astype(np.uint8)
                for j in range(12)
            ]
            rows.append((i, bytearray(encode_ppm_video(frames))))
            rows.append((i + 100, bytearray(encode_ppm_video(frames))))
            rows.append((i + 200, bytearray(encode_ppm_video(frames[:10]))))
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        fps = {r.media_id: (r.vfp, r.n_frames)
               for r in video_fingerprint(df).collect()}
        for i in range(8):
            assert fps[i] == fps[i + 100]            # byte twin, exact
            assert fps[i + 200][1] == 10             # trimmed clip decoded
            ham = bin((fps[i][0] ^ fps[i + 200][0]) & (2**64 - 1)).count("1")
            assert ham <= 3, (i, ham)                # majority vote robust

    def test_near_duplicates_finds_planted(self, spark):
        from dbldatagen_spark.functions import video_near_duplicates
        from dbldatagen_spark.functions.multimodal import (
            synthesize_ppm_video_table,
        )

        base = synthesize_ppm_video_table(spark, rows=20, partitions=2, size=16)
        dup = base.selectExpr("media_id + 1000 as media_id", "payload")
        pairs = video_near_duplicates(base.unionByName(dup))
        got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
        for i in range(20):
            assert got[(i, i + 1000)] == 0

    def test_validation(self, spark):
        from dbldatagen_spark.functions import video_fingerprint

        with pytest.raises(ValueError):
            video_fingerprint(spark.range(1), every_n=0)


class TestWeightedSketches:
    def test_weighted_cms_sums_weights(self, spark):
        from dbldatagen_spark.functions import cms_estimate, cms_sketch

        df = spark.createDataFrame(
            [("a", 10), ("a", 5), ("b", 7)], "v string, n_tokens int"
        )
        sk = cms_sketch(df, "v", width=1024, depth=4, weight_col="n_tokens")
        est = {r.v: r.cms_count for r in
               cms_estimate(sk, df, "v", width=1024, depth=4).collect()}
        assert est == {"a": 15, "b": 7}

    def test_weighted_histogram_token_mass(self, spark):
        from dbldatagen_spark.functions import histogram_quantiles, histogram_sketch

        # one low-score doc carries 90 of 100 tokens
        df = spark.createDataFrame(
            [(0.1, 90), (0.9, 5), (0.95, 5)], "score double, n_tokens int"
        )
        sk = histogram_sketch(df, "score", lo=0.0, hi=1.0, bins=10,
                              weight_col="n_tokens")
        assert {r.bin: r.cnt for r in sk.collect()} == {1: 90, 9: 10}
        p50 = histogram_quantiles(sk, [0.5], lo=0.0, hi=1.0,
                                  bins=10).collect()[0].estimate
        assert 0.1 <= p50 < 0.2  # half the TOKEN mass sits in the 0.1 bin


class TestCorrelatedNormals:
    CORR = [[1.0, 0.7, 0.2], [0.7, 1.0, 0.4], [0.2, 0.4, 1.0]]

    def test_hits_target_correlations(self, spark):
        from dbldatagen_spark.operators.distributions import (
            correlated_normal_exprs,
        )

        cols = correlated_normal_exprs(F.col("id"), self.CORR, seed=42)
        out = spark.range(40000).select(
            *[c.alias(f"z{i}") for i, c in enumerate(cols)]
        )
        r = out.agg(
            F.corr("z0", "z1"), F.corr("z0", "z2"), F.corr("z1", "z2"),
            F.mean("z0"), F.stddev("z2"),
        ).collect()[0]
        for got, want in zip(r[:3], (0.7, 0.2, 0.4)):
            assert abs(got - want) < 0.03, (got, want)
        assert abs(r[3]) < 0.03 and abs(r[4] - 1.0) < 0.03

    def test_partition_independent(self, spark):
        from dbldatagen_spark.operators.distributions import (
            correlated_normal_exprs,
        )

        def build(parts):
            cols = correlated_normal_exprs(F.col("id"), self.CORR, seed=7)
            return sorted(map(tuple, spark.range(0, 2000, 1, parts).select(
                "id", *[c.alias(f"z{i}") for i, c in enumerate(cols)]
            ).collect()))
        assert build(2) == build(11)

    def test_validation(self, spark):
        from dbldatagen_spark.operators.distributions import (
            correlated_normal_exprs,
        )

        with pytest.raises(ValueError, match="square"):
            correlated_normal_exprs(F.col("id"), [[1.0, 0.5]], seed=1)
        with pytest.raises(ValueError, match="symmetric"):
            correlated_normal_exprs(
                F.col("id"), [[1.0, 0.5], [0.1, 1.0]], seed=1)
        with pytest.raises(ValueError, match="unit diagonal"):
            correlated_normal_exprs(
                F.col("id"), [[2.0, 0.5], [0.5, 1.0]], seed=1)
        with pytest.raises(ValueError, match="positive-definite"):
            correlated_normal_exprs(
                F.col("id"), [[1.0, 1.0], [1.0, 1.0]], seed=1)


class TestMarkovSequence:
    T = [[0.8, 0.15, 0.05], [0.3, 0.6, 0.1], [0.1, 0.2, 0.7]]

    def test_sequence_shape_and_states(self, spark):
        from dbldatagen_spark.operators.distributions import markov_sequence_expr

        seq = markov_sequence_expr(F.col("id"), self.T, seed=1, length=20)
        out = spark.range(100).select(seq.alias("s"))
        assert out.where(F.size("s") != 20).count() == 0
        bad = out.select(F.explode("s").alias("v")).where("v < 0 OR v > 2")
        assert bad.count() == 0

    def test_empirical_transitions_on_target(self, spark):
        from dbldatagen_spark.operators.distributions import markov_sequence_expr

        seqs = spark.range(10000).select(
            "id",
            F.posexplode(
                markov_sequence_expr(F.col("id"), self.T, seed=42, length=20)
            ).alias("t", "s"),
        )
        from pyspark.sql import Window

        w = Window.partitionBy("id").orderBy("t")
        tr = (
            seqs.withColumn("nxt", F.lead("s").over(w))
            .where("nxt IS NOT NULL")
            .groupBy("s", "nxt").count()
        )
        counts = {(r.s, r.nxt): r["count"] for r in tr.collect()}
        for i in range(3):
            row_n = sum(counts.get((i, j), 0) for j in range(3))
            for j in range(3):
                emp = counts.get((i, j), 0) / row_n
                assert abs(emp - self.T[i][j]) < 0.02, (i, j, emp)

    def test_init_distribution_and_partition_independence(self, spark):
        from dbldatagen_spark.operators.distributions import markov_sequence_expr

        # init pinned to state 2
        seq = markov_sequence_expr(F.col("id"), self.T, seed=5, length=3,
                                   init=[0.0, 0.0, 1.0])
        firsts = spark.range(200).select(F.element_at(seq, 1).alias("f"))
        assert firsts.where("f != 2").count() == 0

        def build(parts):
            s = markov_sequence_expr(F.col("id"), self.T, seed=9, length=8)
            return sorted(map(tuple, spark.range(0, 500, 1, parts)
                              .select("id", s.alias("s")).collect()))
        assert build(2) == build(7)

    def test_validation(self, spark):
        from dbldatagen_spark.operators.distributions import markov_sequence_expr

        c = F.col("id")
        with pytest.raises(ValueError, match="square"):
            markov_sequence_expr(c, [[1.0, 0.0]], seed=1, length=2)
        with pytest.raises(ValueError, match="sum to 1"):
            markov_sequence_expr(c, [[0.5, 0.4], [0.5, 0.5]], seed=1, length=2)
        with pytest.raises(ValueError, match="length"):
            markov_sequence_expr(c, [[1.0]], seed=1, length=0)
        with pytest.raises(ValueError, match="init"):
            markov_sequence_expr(c, [[1.0]], seed=1, length=2, init=[0.5])


class TestTrajectoryVectors:
    def test_shape_fill_and_normalization(self, spark):
        from dbldatagen_spark.functions import trajectory_vectors

        rows = [
            # user a: ramp 0..3 over 4 points; bucket 2 empty -> ffill
            ("a", "2024-01-01 00:00:00", 0.0),
            ("a", "2024-01-01 00:01:00", 1.0),
            ("a", "2024-01-01 00:03:00", 3.0),
            # user b: same SHAPE over a 10x longer span (time-normalized)
            ("b", "2024-01-01 00:00:00", 0.0),
            ("b", "2024-01-01 00:10:00", 1.0),
            ("b", "2024-01-01 00:30:00", 3.0),
            # user c: single instant
            ("c", "2024-01-01 00:00:00", 5.0),
        ]
        df = spark.createDataFrame(rows, "k string, ts string, v double")
        out = {r.k: r.traj for r in
               trajectory_vectors(df, "k", "ts", "v", n_points=4).collect()}
        assert out["a"] == out["b"] == [0.0, 1.0, 1.0, 3.0]  # ffilled bucket 2
        assert out["c"] == [5.0, 5.0, 5.0, 5.0]  # span 0 -> key mean fill
        assert all(len(v) == 4 for v in out.values())

    def test_partition_independent(self, spark):
        from dbldatagen_spark.functions import trajectory_vectors

        events = spark.read.parquet(f"{SF}/events.parquet")
        def run(n):
            return sorted(map(tuple, trajectory_vectors(
                events.repartition(n), "user_id", "ts", "value",
                n_points=8).select("user_id", "traj").collect()))
        assert run(3) == run(13)

    def test_validation(self, spark):
        from dbldatagen_spark.functions import trajectory_vectors

        with pytest.raises(ValueError):
            trajectory_vectors(spark.range(1), "id", "id", "id", n_points=1)


class TestTableChecksum:
    def test_order_independent_and_detects_change(self, spark):
        from dbldatagen_spark.functions import table_checksum

        cust = spark.read.parquet(f"{SF}/customer.parquet")
        cols = ["c_custkey", "c_name", "c_mktsegment"]
        a = table_checksum(cust, cols).collect()[0]
        b = table_checksum(cust.orderBy(F.rand(1)).repartition(7), cols).collect()[0]
        assert (a.n_rows, a.checksum) == (b.n_rows, b.checksum)
        mutated = cust.withColumn(
            "c_name",
            F.when(F.col("c_custkey") == 1, F.lit("X")).otherwise(F.col("c_name")),
        )
        c = table_checksum(mutated, cols).collect()[0]
        assert c.checksum != a.checksum and c.n_rows == a.n_rows

    def test_null_positions_differ_and_incremental(self, spark):
        from dbldatagen_spark.functions import table_checksum

        x = spark.createDataFrame([(None, "v")], "a string, b string")
        y = spark.createDataFrame([("v", None)], "a string, b string")
        cx = table_checksum(x, ["a", "b"]).collect()[0].checksum
        cy = table_checksum(y, ["a", "b"]).collect()[0].checksum
        assert cx != cy
        cust = spark.read.parquet(f"{SF}/customer.parquet")
        cols = ["c_custkey", "c_name"]
        h1 = cust.where("c_custkey % 2 = 0")
        h2 = cust.where("c_custkey % 2 = 1")
        whole = table_checksum(cust, cols).collect()[0]
        p1 = table_checksum(h1, cols).collect()[0]
        p2 = table_checksum(h2, cols).collect()[0]
        assert whole.checksum == p1.checksum + p2.checksum
        assert whole.n_rows == p1.n_rows + p2.n_rows

    def test_validation_and_empty(self, spark):
        from dbldatagen_spark.functions import table_checksum

        with pytest.raises(ValueError):
            table_checksum(spark.range(1), [])
        r = table_checksum(spark.range(0), ["id"]).collect()[0]
        assert r.n_rows == 0 and r.checksum == 0


class TestBenfordReport:
    def test_benford_distributed_data_conforms(self, spark):
        from dbldatagen_spark.functions import benford_report

        # exponential growth is the canonical Benford-conformant series
        df = spark.range(1, 2000).selectExpr("pow(1.01, id) as v")
        out = {r.digit: r for r in benford_report(df, "v").collect()}
        assert set(out) == set(range(1, 10))
        for d in range(1, 10):
            assert out[d].abs_dev < 0.02, (d, out[d])
        import math
        assert out[1].expected_frac == math.log10(2.0)

    def test_uniform_data_deviates_and_digit_extraction(self, spark):
        from dbldatagen_spark.functions import benford_report

        uni = spark.range(10000, 100000).selectExpr("cast(id as double) as v")
        out = {r.digit: r for r in benford_report(uni, "v").collect()}
        assert abs(out[1].observed_frac - 1.0 / 9.0) < 0.01  # uniform digits
        assert out[1].abs_dev > 0.15  # far from Benford's 0.301
        # sub-1 values: leading zeros stripped (0.0042 -> digit 4)
        small = spark.createDataFrame([(0.0042,), (0.91,), (-230.0,), (0.0,)],
                                      ["v"])
        got = {r.digit: r.n for r in benford_report(small, "v").collect()}
        assert got == {4: 1, 9: 1}  # negatives and zeros excluded


class TestAutocorrelation:
    def test_known_series(self, spark):
        import numpy as np

        from dbldatagen_spark.functions import autocorrelation

        vals = [1.0, 2.0, 3.0, 2.0, 1.0, 2.0, 3.0, 2.0, 1.0]
        df = spark.createDataFrame(
            [("k", f"2024-01-01 00:{i:02d}:00", i, v)
             for i, v in enumerate(vals)],
            "k string, ts string, oid int, v double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        got = autocorrelation(df, "k", "ts", "v", lag=1,
                              order_col="oid").collect()[0]
        x = np.array(vals)
        mu = x.sum() / len(x)
        want = ((x[:-1] - mu) * (x[1:] - mu)).sum() / ((x - mu) ** 2).sum()
        assert abs(got.acf - want) < 1e-12 and got.n == 9

    def test_trend_vs_shuffled_and_edges(self, spark):
        from dbldatagen_spark.functions import autocorrelation

        trend = spark.createDataFrame(
            [("t", f"2024-01-01 00:{i:02d}:00", i, float(i))
             for i in range(30)],
            "k string, ts string, oid int, v double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        r = autocorrelation(trend, "k", "ts", "v", lag=1,
                            order_col="oid").collect()[0].acf
        assert r > 0.8  # a ramp is strongly persistent
        # n <= lag and zero-variance keys -> NULL, not an error
        edge = spark.createDataFrame(
            [("single", "2024-01-01", 1, 5.0),
             ("const", "2024-01-01", 1, 2.0),
             ("const", "2024-01-02", 2, 2.0)],
            "k string, ts string, oid int, v double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = {r.k: r.acf for r in
               autocorrelation(edge, "k", "ts", "v", lag=1,
                               order_col="oid").collect()}
        assert out == {"single": None, "const": None}

    def test_partition_independent_and_validation(self, spark):
        from dbldatagen_spark.functions import autocorrelation

        events = spark.read.parquet(f"{SF}/events.parquet")
        def run(p):
            return sorted(map(tuple, autocorrelation(
                events.repartition(p), "user_id", "ts", "value",
                lag=2, order_col="event_id").collect()))
        assert run(3) == run(11)
        with pytest.raises(ValueError):
            autocorrelation(events, "user_id", "ts", "value", lag=0,
                            order_col="event_id")


class TestBehaviorVectors:
    def test_known_pattern(self, spark):
        from dbldatagen_spark.functions import behavior_vectors

        rows = [("u", f"2024-01-01 00:{i:02d}:00", i, s)
                for i, s in enumerate(["a", "b", "a", "b", "c"])]
        df = spark.createDataFrame(rows, "k string, ts string, oid int, s string")
        out = behavior_vectors(df, "k", "ts", "s", order_col="oid",
                               states=["a", "b", "c"]).collect()[0]
        # transitions: a->b (x2), b->a, b->c over 4 total
        assert out.n_transitions == 4
        v = out.behavior
        assert v[0 * 3 + 1] == 0.5            # a->b
        assert v[1 * 3 + 0] == 0.25           # b->a
        assert v[1 * 3 + 2] == 0.25           # b->c
        assert sum(v) == 1.0 and len(v) == 9

    def test_ansi_mode_parity(self, spark):
        # the transition map is sparse by construction; densify must
        # use try_element_at (ANSI map element_at throws on a miss)
        from dbldatagen_spark.functions import behavior_vectors

        rows = [("u", f"2024-01-01 00:{i:02d}:00", i, s)
                for i, s in enumerate(["a", "b", "a"])]
        df = spark.createDataFrame(rows, "k string, ts string, oid int, s string")
        base = behavior_vectors(df, "k", "ts", "s", order_col="oid",
                                states=["a", "b", "c"]).collect()[0]
        old = spark.conf.get("spark.sql.ansi.enabled", "false")
        spark.conf.set("spark.sql.ansi.enabled", "true")
        try:
            ansi = behavior_vectors(df, "k", "ts", "s", order_col="oid",
                                    states=["a", "b", "c"]).collect()[0]
        finally:
            spark.conf.set("spark.sql.ansi.enabled", old)
        assert list(ansi.behavior) == list(base.behavior)

    def test_vocab_filter_and_similarity_use(self, spark):
        from dbldatagen_spark.functions import behavior_vectors

        rows = [("u", "2024-01-01 00:00:00", 0, "a"),
                ("u", "2024-01-01 00:01:00", 1, "zzz"),   # out of vocab
                ("u", "2024-01-01 00:02:00", 2, "b"),
                ("solo", "2024-01-01 00:00:00", 0, "a")]  # no transitions
        df = spark.createDataFrame(rows, "k string, ts string, oid int, s string")
        out = {r.k: r for r in behavior_vectors(
            df, "k", "ts", "s", order_col="oid", states=["a", "b"]).collect()}
        assert "solo" not in out  # dropped, not a zero vector
        assert "u" not in out     # its only pairs touch zzz -> ignored

    def test_events_and_validation(self, spark):
        from dbldatagen_spark.functions import behavior_vectors

        events = spark.read.parquet(f"{SF}/events.parquet")
        types = [r.event_type for r in
                 events.select("event_type").distinct().orderBy("event_type").collect()]
        out = behavior_vectors(events, "user_id", "ts", "event_type",
                               order_col="event_id", states=types)
        r = out.collect()
        assert all(abs(sum(x.behavior) - 1.0) < 1e-9 for x in r)
        assert all(len(x.behavior) == len(types) ** 2 for x in r)
        with pytest.raises(ValueError):
            behavior_vectors(events, "user_id", "ts", "event_type",
                             order_col="event_id", states=["x"])
        with pytest.raises(ValueError):
            behavior_vectors(events, "user_id", "ts", "event_type",
                             order_col="event_id", states=["x", "x"])


class TestRRFFuse:
    def test_fusion_arithmetic_and_missing_items(self, spark):
        from dbldatagen_spark.functions import rrf_fuse

        a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], ["id", "rank"])
        b = spark.createDataFrame([(3, 1), (1, 2)], ["id", "rank"])
        out = {r.id: r for r in rrf_fuse([a, b], "id", k=60).collect()}
        assert out[1].rrf_score == sorted([1/61, 1/62])[0] + sorted([1/61, 1/62])[1]
        assert abs(out[1].rrf_score - (1/61 + 1/62)) < 1e-15
        assert out[2].n_rankings == 1 and out[2].rrf_score == 1/62
        assert out[3].n_rankings == 2
        # consensus item 1 (ranks 1,2) beats single-list leader 3 (1, 3)? no:
        # 3 has ranks 3 and 1 -> 1/63 + 1/61; 1 has 1/61 + 1/62 -> 1 wins
        assert out[1].rrf_score > out[3].rrf_score

    def test_order_of_rankings_irrelevant(self, spark):
        from dbldatagen_spark.functions import rrf_fuse

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        from pyspark.sql import Window
        r1 = docs.select("doc_id", F.row_number().over(
            Window.orderBy(F.col("n_chars").desc(), "doc_id")).alias("rank"))
        r2 = docs.select("doc_id", F.row_number().over(
            Window.orderBy(F.col("lang"), "doc_id")).alias("rank"))
        ab = sorted(map(tuple, rrf_fuse([r1, r2], "doc_id").collect()))
        ba = sorted(map(tuple, rrf_fuse([r2, r1], "doc_id").collect()))
        assert ab == ba

    def test_validation(self, spark):
        from dbldatagen_spark.functions import rrf_fuse

        with pytest.raises(ValueError):
            rrf_fuse([], "id")
        with pytest.raises(ValueError):
            rrf_fuse([spark.range(1)], "id", k=0)


class TestSessionKeyReport:
    """Skew audit for sessionize: names users whose history would
    serialize onto one task under method='window' and reports the
    skew_safe phase-1 split shape."""

    def test_hot_user_named_with_split_shape(self, spark):
        rows = [(1, f"2024-01-0{d} 0{h}:00:00") for d in (1, 2)
                for h in range(4)]                      # user 1: 8 events, 2 days
        rows += [(2, "2024-01-01 00:00:00"), (2, "2024-01-01 01:00:00")]
        df = spark.createDataFrame(rows, "user_id long, ts string") \
                  .withColumn("ts", F.col("ts").cast("timestamp"))
        from dbldatagen_spark.functions import session_key_report

        rep = session_key_report(df, "user_id", "ts",
                                 max_events_per_key=5,
                                 bucket_seconds=86400).collect()
        assert [(r.user, r.n_events, r.n_buckets, r.max_bucket_events,
                 r.action) for r in rep] == [(1, 8, 2, 4, "route_skew_safe")]

    def test_bounded_users_empty_report(self, spark):
        df = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00")], "user_id long, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        from dbldatagen_spark.functions import session_key_report

        assert session_key_report(df, "user_id", "ts",
                                  max_events_per_key=10).count() == 0

    def test_validation(self, spark):
        from dbldatagen_spark.functions import session_key_report

        df = spark.range(1).selectExpr("id as user_id",
                                       "current_timestamp() as ts")
        with pytest.raises(ValueError):
            session_key_report(df, "user_id", "ts", max_events_per_key=0)
        with pytest.raises(ValueError):
            session_key_report(df, "user_id", "ts", max_events_per_key=5,
                               bucket_seconds=0)


class TestProductQuantization:
    """PQ codebooks: per-subspace k-means, nearest-codeword codes, and
    the reconstruction-error audit (mse <= subspace variance)."""

    @staticmethod
    def _vectors(spark, n=60, d=8, seed=11):
        import random

        rng = random.Random(seed)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(d)])
                for i in range(n)]
        return spark.createDataFrame(rows, "vec_id long, v array<double>")

    def test_train_encode_report_roundtrip(self, spark):
        from dbldatagen_spark.functions import (
            pq_encode,
            pq_reconstruction_report,
            pq_train,
        )

        df = self._vectors(spark)
        cb, hist = pq_train(df, "v", m=4, k=8, id_col="vec_id", max_iter=6)
        assert cb.shape == (4, 8, 2)
        # Lloyd inertia is non-increasing
        assert all(a >= b - 1e-9 for a, b in zip(hist, hist[1:]))
        coded = pq_encode(df, "v", cb)
        rows = coded.collect()
        assert all(len(r["pq_codes"]) == 4 for r in rows)
        assert all(0 <= c < 8 for r in rows for c in r["pq_codes"])
        rep = pq_reconstruction_report(df, "v", cb).collect()
        assert [r["subspace"] for r in sorted(rep, key=lambda r: r.subspace)] \
            == [0, 1, 2, 3]
        for r in rep:
            assert r["n_vectors"] == 60 and r["k"] == 8
            assert r["mse_improves"]
            assert 0.0 <= r["mse"] <= r["variance"] + 1e-9

    def test_exact_codebook_reconstructs_exactly(self, spark):
        # k >= distinct vectors: every vector IS a codeword -> mse 0
        from dbldatagen_spark.functions import pq_reconstruction_report, pq_train

        rows = [(i, [float(i % 4), float((i * 3) % 4)]) for i in range(16)]
        df = spark.createDataFrame(rows, "vec_id long, v array<double>")
        cb, _ = pq_train(df, "v", m=2, k=4, id_col="vec_id", max_iter=8)
        rep = pq_reconstruction_report(df, "v", cb).collect()
        assert all(abs(r["mse"]) < 1e-12 for r in rep)

    def test_train_is_partitioning_stable(self, spark):
        import numpy as np

        from dbldatagen_spark.functions import pq_train

        df = self._vectors(spark, n=40)
        cb1, _ = pq_train(df.repartition(2), "v", m=2, k=4,
                          id_col="vec_id", max_iter=4)
        cb2, _ = pq_train(df.repartition(7), "v", m=2, k=4,
                          id_col="vec_id", max_iter=4)
        assert np.allclose(cb1, cb2, atol=1e-9)

    def test_validation(self, spark):
        from dbldatagen_spark.functions import pq_encode, pq_train

        df = self._vectors(spark, n=10, d=6)
        with pytest.raises(ValueError, match="not divisible"):
            pq_train(df, "v", m=4, k=2)
        with pytest.raises(ValueError):
            pq_train(df, "v", m=0, k=2)
        with pytest.raises(ValueError):
            pq_train(df, "v", m=2, k=0)
        with pytest.raises(ValueError, match="at least k"):
            pq_train(df, "v", m=2, k=100, id_col="vec_id")
        with pytest.raises(ValueError, match="codebooks"):
            pq_encode(df, "v", [[1.0, 2.0]])

    def test_adc_equals_decode_then_distance(self, spark):
        # definitional: ADC(q, codes) == ||q - decode(codes)||^2
        import numpy as np

        from dbldatagen_spark.functions import (
            pq_adc_topk,
            pq_encode,
            pq_train,
        )

        df = self._vectors(spark, n=50, d=8)
        cb, _ = pq_train(df, "v", m=4, k=8, id_col="vec_id", max_iter=5)
        coded = pq_encode(df, "v", cb).select("vec_id", "pq_codes")
        q = [0.3, -0.1, 0.7, 0.2, -0.5, 0.9, 0.0, 0.4]
        got = pq_adc_topk(coded, "vec_id", "pq_codes", cb, q, k=50)
        codes = {r["vec_id"]: r["pq_codes"] for r in coded.collect()}
        qv = np.asarray(q)
        for r in got.collect():
            dec = np.concatenate(
                [cb[s, codes[r["vec_id"]][s]] for s in range(4)]
            )
            want = float(((qv - dec) ** 2).sum())
            assert abs(r["adc_dist"] - round(want, 4)) < 1e-9

    def test_adc_finds_planted_neighbor(self, spark):
        # a corpus vector equal to a codeword grid point: querying that
        # exact point must rank it first (ADC distance 0)
        from dbldatagen_spark.functions import (
            pq_adc_topk,
            pq_encode,
            pq_train,
        )

        rows = [(i, [float(i % 3), float((i * 7) % 3)]) for i in range(24)]
        df = spark.createDataFrame(rows, "vec_id long, v array<double>")
        cb, _ = pq_train(df, "v", m=2, k=3, id_col="vec_id", max_iter=8)
        coded = pq_encode(df, "v", cb).select("vec_id", "pq_codes")
        top = pq_adc_topk(
            coded, "vec_id", "pq_codes", cb, [0.0, 0.0], k=3
        ).collect()
        # vector (0,0) exists in the corpus (i=0, i=3, ...) and the
        # codebook reconstructs it exactly (k=3 covers the 3-point grid
        # per axis) -> distance 0 at the head, id tiebreak gives vec 0
        assert top[0]["vec_id"] == 0 and top[0]["adc_dist"] == 0.0

    def test_adc_validation(self, spark):
        import numpy as np

        from dbldatagen_spark.functions import pq_adc_topk

        df = spark.createDataFrame(
            [(1, [0, 1])], "vec_id long, pq_codes array<int>"
        )
        cb = np.zeros((2, 4, 3))
        with pytest.raises(ValueError, match="query length"):
            pq_adc_topk(df, "vec_id", "pq_codes", cb, [1.0, 2.0], k=1)
        with pytest.raises(ValueError):
            pq_adc_topk(df, "vec_id", "pq_codes", cb, [0.0] * 6, k=0)


class TestIvfPq:
    """IVF-PQ residual serving index: coarse cells route, PQ codes
    compress the residual, per-cell LUTs score — the IVFADC layout."""

    @staticmethod
    def _clustered(spark, n_per=30, d=4, seed=5):
        # three well-separated clusters so the coarse quantizer is
        # meaningful and residuals are small
        import random

        rng = random.Random(seed)
        centers = [[0.0] * d, [10.0] * d, [-10.0, 10.0] * (d // 2)]
        rows = []
        for ci, c in enumerate(centers):
            for j in range(n_per):
                rows.append((ci * n_per + j,
                             [c[t] + rng.uniform(-1, 1) for t in range(d)]))
        return spark.createDataFrame(rows, "vec_id long, v array<double>")

    def test_build_index_schema_and_state_size(self, spark):
        from dbldatagen_spark.functions import ivfpq_build

        df = self._clustered(spark)
        idx, cents, cb = ivfpq_build(
            df, "vec_id", "v", n_cells=3, m=2, k=4,
            coarse_max_iter=6, pq_max_iter=6,
        )
        assert idx.columns == ["vec_id", "cell", "pq_codes"]
        assert cents.shape == (3, 4)
        assert cb.shape == (2, 4, 2)
        rows = idx.collect()
        assert len(rows) == 90
        assert all(len(r["pq_codes"]) == 2 for r in rows)
        assert all(0 <= c < 4 for r in rows for c in r["pq_codes"])

    def test_adc_equals_centroid_plus_decode_distance(self, spark):
        # definitional law: served distance == ||q - (centroid_cell +
        # decode(codes))||^2 for every returned row
        import numpy as np

        from dbldatagen_spark.functions import ivfpq_build, ivfpq_topk

        df = self._clustered(spark)
        idx, cents, cb = ivfpq_build(
            df, "vec_id", "v", n_cells=3, m=2, k=4,
        )
        q = [9.5, 10.5, 9.8, 10.2]
        got = ivfpq_topk(idx, "vec_id", cents, cb, q, k=90, n_probe=3)
        by_id = {r["vec_id"]: r for r in idx.collect()}
        qv = np.asarray(q)
        rows = got.collect()
        assert rows
        for r in rows:
            cell = by_id[r["vec_id"]]["cell"]
            codes = by_id[r["vec_id"]]["pq_codes"]
            dec = cents[cell] + np.concatenate(
                [cb[s, codes[s]] for s in range(2)]
            )
            want = float(((qv - dec) ** 2).sum())
            assert abs(r["adc_dist"] - round(want, 4)) < 1e-9

    def test_probe_recall_on_clustered_data(self, spark):
        # query near cluster 1: n_probe=1 must already return that
        # cluster's members with high exact-top-k overlap
        import numpy as np

        from dbldatagen_spark.functions import ivfpq_build, ivfpq_topk

        df = self._clustered(spark)
        idx, cents, cb = ivfpq_build(df, "vec_id", "v", n_cells=3, m=2, k=16)
        q = np.asarray([10.0, 10.0, 10.0, 10.0])
        approx = {r["vec_id"] for r in
                  ivfpq_topk(idx, "vec_id", cents, cb, list(q), k=10,
                             n_probe=1).collect()}
        vecs = {r["vec_id"]: np.asarray(r["v"]) for r in df.collect()}
        exact = sorted(vecs, key=lambda i: (float(((vecs[i] - q) ** 2).sum()), i))[:10]
        assert len(approx & set(exact)) >= 7  # measured 8 (k=16 codewords)
        # full probe can only improve on single-probe recall
        full = {r["vec_id"] for r in
                ivfpq_topk(idx, "vec_id", cents, cb, list(q), k=10,
                           n_probe=3).collect()}
        assert len(full & set(exact)) >= len(approx & set(exact))

    def test_persisted_index_partition_prunes(self, spark, tmp_path):
        # the serving layout contract: written partitioned by cell, a
        # probe's `cell IN (...)` becomes PartitionFilters and the scan
        # reads ONLY the probed cells' files — and serves the exact
        # same ranking as the in-memory index
        import re

        from dbldatagen_spark.functions import (
            file_rows_report, ivfpq_build, ivfpq_read_index, ivfpq_topk,
            ivfpq_write_index,
        )

        df = self._clustered(spark)
        idx, cents, cb = ivfpq_build(df, "vec_id", "v",
                                     n_cells=3, m=2, k=4)
        path = str(tmp_path / "ivfpq_index")
        ivfpq_write_index(idx, path)
        stored = ivfpq_read_index(spark, path)
        # layout audit: one compact file per non-empty cell
        rep = file_rows_report(stored).collect()[0]
        n_cells_written = stored.select("cell").distinct().count()
        assert rep["n_files"] == n_cells_written
        assert rep["total_rows"] == 90

        q = [9.5, 10.5, 9.8, 10.2]
        served = ivfpq_topk(stored, "vec_id", cents, cb, q, k=10,
                            n_probe=1)
        mem = ivfpq_topk(idx, "vec_id", cents, cb, q, k=10, n_probe=1)
        assert [tuple(r) for r in served.collect()] == \
            [tuple(r) for r in mem.collect()]
        # plan: the probe predicate must land in PartitionFilters
        plan = served._jdf.queryExecution().executedPlan().toString()
        pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert pf and "cell" in pf.group(1), plan
        # the pruned scan touches exactly the probed cell's file(s)
        probed = stored.where(F.col("cell").isin(
            [int(r["cell"]) for r in served.collect()]
        ))
        files_read = probed.select(
            F.input_file_name().alias("f")).distinct().count()
        assert files_read < rep["n_files"]
        with pytest.raises(ValueError, match="ivfpq index layout"):
            plain = str(tmp_path / "plain")
            df.write.parquet(plain)
            ivfpq_read_index(spark, plain)

    def test_partition_stability_and_validation(self, spark):
        import numpy as np

        from dbldatagen_spark.functions import ivfpq_build, ivfpq_topk

        df = self._clustered(spark)
        i1, c1, b1 = ivfpq_build(df.repartition(2), "vec_id", "v",
                                 n_cells=3, m=2, k=4)
        i2, c2, b2 = ivfpq_build(df.repartition(7), "vec_id", "v",
                                 n_cells=3, m=2, k=4)
        assert np.allclose(c1, c2, atol=1e-9)
        assert np.allclose(b1, b2, atol=1e-9)
        assert sorted(map(tuple, i1.collect())) == sorted(map(tuple, i2.collect()))
        with pytest.raises(ValueError, match="query length"):
            ivfpq_topk(i1, "vec_id", c1, b1, [0.0, 1.0], k=1)
        with pytest.raises(ValueError, match="n_probe"):
            ivfpq_topk(i1, "vec_id", c1, b1, [0.0] * 4, k=1, n_probe=0)
        with pytest.raises(ValueError, match="k must be"):
            ivfpq_topk(i1, "vec_id", c1, b1, [0.0] * 4, k=0)


class TestMrlRecallReport:
    """recall@k of prefix-dimension cosine rankings vs the full ranking
    — the audit that decides which Matryoshka truncation is servable."""

    def test_recall_counts_planted_geometry(self, spark):
        from dbldatagen_spark.functions import mrl_recall_report

        # corpus of 4-d vectors; query = id 0 (single query).
        # full-dim nearest of q is id 1 (identical); by the first-2 prefix
        # id 2 ([1,0,...]) ties id 1 exactly, ids break the tie -> same
        # top-2 SET either way => recall@2(dim=2) = 1.0; dim=3 likewise.
        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0, 0.0]),   # exact duplicate of q
            (2, [1.0, 0.0, 9.0, 0.0]),   # prefix-identical, full-div
            (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal
        ]
        df = spark.createDataFrame(rows, "vec_id long, v array<double>")
        rep = {r.dim: (r.total_overlap, r.recall)
               for r in mrl_recall_report(df, "vec_id", "v",
                                          dims=[2], k=2, n_queries=1).collect()}
        # full top-2 of q: ids 1 (cos 1.0) and 2 (cos ~0.110); prefix-2
        # top-2: ids 1 and 2 (both cos 1.0) -> overlap 2 of 2
        assert rep == {2: (2, 1.0)}

    def test_full_dim_prefix_is_perfect_recall(self, spark):
        # a prefix equal to the full dimension must reproduce the truth
        # ranking exactly -> recall 1.0 regardless of data
        import random

        from dbldatagen_spark.functions import mrl_recall_report

        rng = random.Random(7)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
        df = spark.createDataFrame(rows, "vec_id long, v array<double>")
        rep = {r.dim: r.recall
               for r in mrl_recall_report(df, "vec_id", "v",
                                          dims=[8, 4], k=5,
                                          n_queries=6).collect()}
        assert rep[8] == 1.0
        assert 0.0 <= rep[4] <= 1.0

    def test_validation(self, spark):
        from dbldatagen_spark.functions import mrl_recall_report

        df = spark.createDataFrame([(1, [1.0])], "vec_id long, v array<double>")
        import pytest as _pytest
        with _pytest.raises(ValueError):
            mrl_recall_report(df, "vec_id", "v", dims=[])
        with _pytest.raises(ValueError):
            mrl_recall_report(df, "vec_id", "v", dims=[2, 2])
        with _pytest.raises(ValueError):
            mrl_recall_report(df, "vec_id", "v", dims=[2], k=0)
        with _pytest.raises(ValueError):
            mrl_recall_report(df, "vec_id", "v", dims=[2], n_queries=0)

    def test_oversized_dim_rejected(self, spark):
        # F.slice past the array end silently returns the whole array,
        # which would report a misleading perfect recall — the call must
        # raise instead (dims validated against a sampled row)
        from dbldatagen_spark.functions import mrl_recall_report

        df = spark.createDataFrame(
            [(i, [float(i), 1.0, 2.0, 3.0]) for i in range(5)],
            "vec_id long, v array<double>",
        )
        with pytest.raises(ValueError, match="exceed the embedding length"):
            mrl_recall_report(df, "vec_id", "v", dims=[2, 128], k=2,
                              n_queries=2)


class TestHllSketch:
    def test_estimate_accuracy_and_zero_registers(self, spark):
        from dbldatagen_spark.functions import hll_sketch

        df = spark.range(0, 5000).select(
            (F.col("id") % 2).alias("g"), F.col("id").alias("v")
        )
        out = {r["g"]: r for r in hll_sketch(
            df, "v", group_cols=["g"], p=8
        ).collect()}
        for g in (0, 1):
            est = out[g]["dv_estimate"]
            assert abs(est / 2500.0 - 1.0) < 0.15, (g, est)
            assert len(out[g]["registers"]) == 256
            assert out[g]["n_zero_registers"] == sum(
                1 for r in out[g]["registers"] if r == 0
            )

    def test_small_range_linear_counting(self, spark):
        from dbldatagen_spark.functions import hll_sketch

        df = spark.range(0, 10).select(F.col("id").alias("v"))
        est = hll_sketch(df, "v", p=8).collect()[0]["dv_estimate"]
        # LC regime: 10 distinct with 256 registers is near-exact
        assert abs(est - 10.0) < 1.0, est

    def test_merge_law_exact(self, spark):
        from dbldatagen_spark.functions import hll_merge_expr, hll_sketch

        df = spark.range(0, 3000).select(
            (F.col("id") % 3).alias("part"), (F.col("id") % 700).alias("v")
        )
        direct = hll_sketch(df, "v", p=8).collect()[0]["registers"]
        per_part = hll_sketch(df, "v", group_cols=["part"], p=8)
        merged = (
            per_part.agg(F.collect_list("registers").alias("s"))
            .select(hll_merge_expr(F.col("s"), p=8).alias("m"))
            .collect()[0]["m"]
        )
        assert list(merged) == list(direct)

    def test_partitioning_stable(self, spark):
        from dbldatagen_spark.functions import hll_sketch

        df = spark.range(0, 2000).select(F.col("id").alias("v"))
        a = hll_sketch(df.repartition(2), "v", p=6).collect()[0]
        b = hll_sketch(df.repartition(7), "v", p=6).collect()[0]
        assert list(a["registers"]) == list(b["registers"])
        assert a["dv_estimate"] == b["dv_estimate"]

    def test_ansi_mode_parity(self, spark):
        # sparse groups are guaranteed to miss register buckets; the
        # densify must use try_element_at so ANSI mode (which makes map
        # element_at THROW on a missing key) returns identical sketches
        from dbldatagen_spark.functions import hll_sketch

        df = spark.range(0, 500).select(F.col("id").alias("v"))
        base = hll_sketch(df, "v", p=8).collect()[0]
        old = spark.conf.get("spark.sql.ansi.enabled", "false")
        spark.conf.set("spark.sql.ansi.enabled", "true")
        try:
            ansi = hll_sketch(df, "v", p=8).collect()[0]
        finally:
            spark.conf.set("spark.sql.ansi.enabled", old)
        assert list(ansi["registers"]) == list(base["registers"])
        assert ansi["dv_estimate"] == base["dv_estimate"]

    def test_nulls_excluded_and_validation(self, spark):
        from dbldatagen_spark.functions import hll_sketch

        df = spark.createDataFrame(
            [(1,), (2,), (None,)], "v int"
        )
        est = hll_sketch(df, "v", p=8).collect()[0]["dv_estimate"]
        assert abs(est - 2.0) < 0.5
        with pytest.raises(ValueError, match="p must be"):
            from dbldatagen_spark.functions import hll_register_exprs
            hll_register_exprs(F.col("v"), p=2)


class TestPrioritySample:
    def test_unbiased_total_and_exact_small_groups(self, spark):
        from dbldatagen_spark.functions import priority_sample

        df = spark.createDataFrame(
            [(i, "big", float(1 + i % 17)) for i in range(400)]
            + [(1000 + i, "small", 5.0) for i in range(3)],
            "id long, g string, w double",
        )
        out = priority_sample(df, "id", "w", 8, group_cols=["g"])
        rows = out.collect()
        small = [r for r in rows if r["g"] == "small"]
        # a group under k is kept whole in the exact regime
        assert len(small) == 3
        assert all(r["tau"] == 0.0 and r["w_hat"] == 5.0 for r in small)
        big = [r for r in rows if r["g"] == "big"]
        assert len(big) == 8
        tau = big[0]["tau"]
        assert tau > 0.0
        for r in big:
            assert r["w_hat"] == max(r["weight"], tau)
            assert r["priority"] >= tau

    def test_global_topk_and_determinism(self, spark):
        from dbldatagen_spark.functions import priority_sample

        df = spark.range(0, 500).select(
            F.col("id"), (F.col("id") % 13 + 1).cast("double").alias("w")
        )
        a = priority_sample(df.repartition(3), "id", "w", 10).collect()
        b = priority_sample(df.repartition(8), "id", "w", 10).collect()
        ka = sorted((r["id"], r["w_hat"]) for r in a)
        kb = sorted((r["id"], r["w_hat"]) for r in b)
        assert ka == kb
        assert len(ka) == 10

    def test_estimator_tracks_subset_sums(self, spark):
        # mean ratio over several disjoint subsets should hover near 1
        from dbldatagen_spark.functions import priority_sample

        df = spark.range(0, 2000).select(
            F.col("id"), (F.col("id") % 97 + 1).cast("double").alias("w"),
            (F.col("id") % 4).alias("bucket"),
        )
        s = priority_sample(df, "id", "w", 200)
        joined = s.join(df.select("id", "bucket"), "id")
        est = {r["bucket"]: r["e"] for r in joined.groupBy("bucket")
               .agg(F.sum("w_hat").alias("e")).collect()}
        exact = {r["bucket"]: r["e"] for r in df.groupBy("bucket")
                 .agg(F.sum("w").alias("e")).collect()}
        ratios = [est[b] / exact[b] for b in exact]
        assert all(0.6 < x < 1.4 for x in ratios), ratios
        with pytest.raises(ValueError, match="k must be"):
            priority_sample(df, "id", "w", 0)


class TestBpe:
    def test_pair_counts_match_python(self, spark):
        from dbldatagen_spark.functions import bpe_pair_counts

        texts = ["the cat the hat", "that there the", "CAT cat!"]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = {r["pair"]: r["n"] for r in bpe_pair_counts(df, "text").collect()}
        import re
        from collections import Counter
        ref = Counter()
        for t in texts:
            for w in re.split("[^a-z]+", t.lower()):
                if 2 <= len(w) <= 40:
                    for i in range(len(w) - 1):
                        ref[w[i:i + 2]] += 1
        assert got == dict(ref)

    def test_train_matches_reference_bpe(self, spark):
        from dbldatagen_spark.functions import bpe_train

        texts = ["low lower lowest", "new newer newest", "low low new"]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = bpe_train(df, "text", 6)

        # pure-Python reference: greedy leftmost merges over word counts
        import re
        from collections import Counter
        vocab = Counter()
        for t in texts:
            for w in re.split("[^a-z]+", t.lower()):
                if 2 <= len(w) <= 40:
                    vocab[w] += 1
        words = {w: list(w) for w in vocab}
        ref = []
        for _ in range(6):
            pairs = Counter()
            for w, syms in words.items():
                for i in range(len(syms) - 1):
                    pairs[(syms[i], syms[i + 1])] += vocab[w]
            if not pairs:
                break
            best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            (l, r), n = best
            ref.append((l, r, n))
            for w, syms in words.items():
                out, i = [], 0
                while i < len(syms):
                    if (i + 1 < len(syms) and syms[i] == l
                            and syms[i + 1] == r):
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                words[w] = out
        assert got == ref

    def test_train_validation(self, spark):
        from dbldatagen_spark.functions import bpe_train

        df = spark.createDataFrame([("ab",)], "text string")
        with pytest.raises(ValueError, match="num_merges"):
            bpe_train(df, "text", 0)


class TestContainmentPairs:
    def test_subset_doc_detected(self, spark):
        from dbldatagen_spark.functions import containment_pairs

        long = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        short = "gamma delta epsilon zeta"          # embedded in long
        other = "one two three four five six seven"
        df = spark.createDataFrame(
            [(1, long), (2, short), (3, other)], "doc_id long, text string"
        )
        rows = containment_pairs(
            df, "doc_id", "text", k=3, threshold=0.9,
            max_posting_len=None,
        ).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r["id_a"], r["id_b"]) == (1, 2)
        # every shingle of the short doc appears in the long doc
        assert r["containment_b_in_a"] == 1.0
        # but Jaccard would be low: the long doc has many more shingles
        assert r["n_common"] / (r["n_a"] + r["n_b"] - r["n_common"]) < 0.5

    def test_direction_and_threshold(self, spark):
        from dbldatagen_spark.functions import containment_pairs

        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "x y z w v u")],
            "doc_id long, text string",
        )
        assert containment_pairs(
            df, "doc_id", "text", threshold=0.5, max_posting_len=None
        ).count() == 0
        with pytest.raises(ValueError, match="threshold"):
            containment_pairs(df, "doc_id", "text", threshold=0.0)

    def test_posting_cut_blocks_only_never_biases_measure(self, spark):
        # the stop-shingle cut drops viral shingles from the BLOCKING
        # index only: a pair that still survives blocking must report the
        # same exact n_common/containment as the uncut run — the cut may
        # cost recall, never correctness of the measure
        from dbldatagen_spark.functions import containment_pairs

        boiler = "the quick brown fox"   # shared by ALL docs (df > cap)
        rows = [
            (1, f"{boiler} alpha beta gamma delta"),
            (2, f"{boiler} alpha beta gamma epsilon"),
        ] + [(i, f"{boiler} unique{i} pad{i} fill{i}") for i in range(3, 9)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        uncut = {
            (r["id_a"], r["id_b"]): (r["n_common"], r["containment_a_in_b"],
                                     r["containment_b_in_a"])
            for r in containment_pairs(
                df, "doc_id", "text", k=3, threshold=0.3,
                max_posting_len=None,
            ).collect()
        }
        cut = {
            (r["id_a"], r["id_b"]): (r["n_common"], r["containment_a_in_b"],
                                     r["containment_b_in_a"])
            for r in containment_pairs(
                df, "doc_id", "text", k=3, threshold=0.3,
                max_posting_len=3,
            ).collect()
        }
        assert (1, 2) in cut                     # distinctive pair survives
        for pair, stats in cut.items():
            assert stats == uncut[pair]          # measure identical
        assert set(cut) <= set(uncut)            # cut only loses pairs


class TestResampleInterpolate:
    def test_linear_values_and_exact_hits(self, spark):
        from dbldatagen_spark.functions import resample_interpolate

        rows = [
            (1, "2024-01-01 00:00:00", 0.0, 1),
            (1, "2024-01-01 00:30:00", 30.0, 2),   # off-grid
            (1, "2024-01-01 02:00:00", 120.0, 3),  # exact grid hit
        ]
        df = spark.createDataFrame(
            rows, "k long, ts string, v double, eid long"
        ).select("k", F.to_timestamp("ts").alias("ts"), "v", "eid")
        out = {r["grid_ts"].isoformat(): r for r in resample_interpolate(
            df, "k", "ts", "v", interval_seconds=3600, order_col="eid"
        ).collect()}
        assert out["2024-01-01T00:00:00"]["v"] == 0.0
        assert out["2024-01-01T00:00:00"]["was_exact"]
        # 01:00 sits between 00:30 (30.0) and 02:00 (120.0): 30 + 90*(30/90)
        assert out["2024-01-01T01:00:00"]["v"] == pytest.approx(60.0)
        assert not out["2024-01-01T01:00:00"]["was_exact"]
        assert out["2024-01-01T02:00:00"]["v"] == 120.0
        assert out["2024-01-01T02:00:00"]["was_exact"]

    def test_duplicate_ts_resolves_by_order_col(self, spark):
        from dbldatagen_spark.functions import resample_interpolate

        rows = [
            (1, "2024-01-01 00:00:00", 5.0, 1),
            (1, "2024-01-01 00:00:00", 7.0, 2),   # wins (higher eid)
            (1, "2024-01-01 01:00:00", 9.0, 3),
        ]
        df = spark.createDataFrame(
            rows, "k long, ts string, v double, eid long"
        ).select("k", F.to_timestamp("ts").alias("ts"), "v", "eid")
        out = {r["grid_ts"].isoformat(): r["v"] for r in resample_interpolate(
            df, "k", "ts", "v", interval_seconds=3600, order_col="eid"
        ).collect()}
        assert out["2024-01-01T00:00:00"] == 7.0

    def test_null_observations_do_not_define_the_span(self, spark):
        # a key whose earliest/latest rows carry NULL values must not
        # get grid points outside the non-NULL bracket — NULL rows are
        # not observations, and no grid row may ever emit NULL
        from dbldatagen_spark.functions import resample_interpolate

        rows = [
            (1, "2024-01-01 00:00:00", None, 1),   # NULL head
            (1, "2024-01-01 01:00:00", 10.0, 2),
            (1, "2024-01-01 03:00:00", 30.0, 3),
            (1, "2024-01-01 05:00:00", None, 4),   # NULL tail
        ]
        df = spark.createDataFrame(
            rows, "k long, ts string, v double, eid long"
        ).select("k", F.to_timestamp("ts").alias("ts"), "v", "eid")
        out = {r["grid_ts"].isoformat(): r["v"] for r in resample_interpolate(
            df, "k", "ts", "v", interval_seconds=3600, order_col="eid"
        ).collect()}
        # span is [01:00, 03:00], NOT [00:00, 05:00]
        assert sorted(out) == [
            "2024-01-01T01:00:00", "2024-01-01T02:00:00", "2024-01-01T03:00:00"
        ]
        assert out["2024-01-01T02:00:00"] == pytest.approx(20.0)
        assert all(v is not None for v in out.values())

    def test_no_extrapolation_and_partition_stability(self, spark):
        from dbldatagen_spark.functions import resample_interpolate

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        a = resample_interpolate(
            ev.repartition(2), "user_id", "ts", "value",
            interval_seconds=7200, order_col="event_id",
        )
        b = resample_interpolate(
            ev.repartition(7), "user_id", "ts", "value",
            interval_seconds=7200, order_col="event_id",
        )
        ra = sorted((r["user_id"], r["grid_ts"], round(r["value"], 9))
                    for r in a.collect())
        rb = sorted((r["user_id"], r["grid_ts"], round(r["value"], 9))
                    for r in b.collect())
        assert ra == rb
        assert all(v is not None for _, _, v in ra)  # always bracketed
        with pytest.raises(ValueError, match="interval_seconds"):
            resample_interpolate(ev, "user_id", "ts", "value",
                                 interval_seconds=0, order_col="event_id")


class TestHoltLinear:
    def test_matches_python_reference_bitexact(self, spark):
        from dbldatagen_spark.functions import holt_linear

        rows = [
            (1, "2024-01-01 00:00:00", 10.0, 1),
            (1, "2024-01-01 01:00:00", 12.0, 2),
            (1, "2024-01-01 02:00:00", 15.0, 3),
            (1, "2024-01-01 03:00:00", 13.0, 4),
            (2, "2024-01-01 00:30:00", 5.0, 5),
            (2, "2024-01-01 01:30:00", None, 6),   # NULL excluded
            (2, "2024-01-01 02:30:00", 7.0, 7),
        ]
        df = spark.createDataFrame(
            rows, "k long, ts string, v double, eid long"
        ).select("k", F.to_timestamp("ts").alias("ts"), "v", "eid")
        out = holt_linear(
            df, "k", "ts", "v", alpha=0.25, beta=0.125, order_col="eid"
        )
        got = {(r["k"], r["eid"]): (r["level"], r["trend"])
               for r in out.collect()}

        a, bt = 0.25, 0.125
        ref = {}
        for k in (1, 2):
            seq = [(eid, v) for kk, _, v, eid in rows
                   if kk == k and v is not None]
            lvl = trd = None
            for eid, v in seq:
                if lvl is None:
                    lvl, trd = v, 0.0
                else:
                    l_new = a * v + (1.0 - a) * (lvl + trd)
                    trd = bt * (l_new - lvl) + (1.0 - bt) * trd
                    lvl = l_new
                ref[(k, eid)] = (lvl, trd)
        assert got == ref  # exact doubles, not approx

    def test_partitioning_stable_and_validation(self, spark):
        from dbldatagen_spark.functions import holt_linear

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        kw = dict(alpha=0.25, beta=0.125, order_col="event_id")
        a = holt_linear(ev.repartition(2), "user_id", "ts", "value", **kw)
        b = holt_linear(ev.repartition(7), "user_id", "ts", "value", **kw)
        ra = sorted((r["user_id"], r["event_id"], r["level"], r["trend"])
                    for r in a.collect())
        rb = sorted((r["user_id"], r["event_id"], r["level"], r["trend"])
                    for r in b.collect())
        assert ra == rb
        with pytest.raises(ValueError, match="alpha"):
            holt_linear(ev, "user_id", "ts", "value",
                        alpha=0.0, beta=0.5, order_col="event_id")
        with pytest.raises(ValueError, match="beta"):
            holt_linear(ev, "user_id", "ts", "value",
                        alpha=0.5, beta=2.0, order_col="event_id")

    def test_trend_tracks_linear_series(self, spark):
        # on a perfectly linear series the trend converges toward the slope
        from dbldatagen_spark.functions import holt_linear

        rows = [(1, f"2024-01-01 {h:02d}:00:00", float(10 + 3 * h), h)
                for h in range(24)]
        df = spark.createDataFrame(
            rows, "k long, ts string, v double, eid long"
        ).select("k", F.to_timestamp("ts").alias("ts"), "v", "eid")
        last = (holt_linear(df, "k", "ts", "v", alpha=0.5, beta=0.5,
                            order_col="eid")
                .orderBy(F.col("eid").desc()).limit(1).collect()[0])
        assert abs(last["trend"] - 3.0) < 0.2
        assert abs(last["level"] - last["v"]) < 1.0


class TestContainmentSketch:
    def test_estimates_track_exact(self, spark):
        from dbldatagen_spark.functions import (
            containment_pairs,
            containment_sketch_pairs,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        est = {(r["id_a"], r["id_b"]): (r["est_a_in_b"], r["est_b_in_a"])
               for r in containment_sketch_pairs(
                   docs, "doc_id", "text", k=3, sketch_k=24, threshold=0.7
               ).collect()}
        exact = {(r["id_a"], r["id_b"]):
                 (r["containment_a_in_b"], r["containment_b_in_a"])
                 for r in containment_pairs(
                     docs, "doc_id", "text", k=3, threshold=0.7,
                     max_posting_len=None,
                 ).collect()}
        assert exact, "fixture should contain near-dup pairs"
        # every exact pair is found by the sketch path, and estimates
        # track the exact containments closely
        missing = set(exact) - set(est)
        assert not missing, missing
        for p in exact:
            assert abs(est[p][0] - exact[p][0]) < 0.15, (p, est[p], exact[p])
            assert abs(est[p][1] - exact[p][1]) < 0.15, (p, est[p], exact[p])

    def test_small_docs_exact_regime(self, spark):
        # docs with <= sketch_k shingles: the sketch IS the shingle set,
        # so the estimates are exact
        from dbldatagen_spark.functions import containment_sketch_pairs

        long = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        short = "gamma delta epsilon zeta"
        df = spark.createDataFrame(
            [(1, long), (2, short)], "doc_id long, text string"
        )
        rows = containment_sketch_pairs(
            df, "doc_id", "text", k=3, sketch_k=32, threshold=0.9
        ).collect()
        assert len(rows) == 1
        assert rows[0]["est_b_in_a"] == 1.0

    def test_partitioning_stable_and_validation(self, spark):
        from dbldatagen_spark.functions import containment_sketch_pairs

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = sorted((r["id_a"], r["id_b"], r["est_a_in_b"])
                   for r in containment_sketch_pairs(
                       docs.repartition(2), "doc_id", "text",
                       sketch_k=16, threshold=0.8).collect())
        b = sorted((r["id_a"], r["id_b"], r["est_a_in_b"])
                   for r in containment_sketch_pairs(
                       docs.repartition(7), "doc_id", "text",
                       sketch_k=16, threshold=0.8).collect())
        assert a == b
        with pytest.raises(ValueError, match="sketch_k"):
            containment_sketch_pairs(docs, "doc_id", "text", sketch_k=1)
        with pytest.raises(ValueError, match="threshold"):
            containment_sketch_pairs(docs, "doc_id", "text", threshold=1.5)


class TestJaccardTopk:
    """Single-probe shingle search: map-only exact Jaccard against a
    literal query shingle set, per-partition top-k."""

    def test_identical_doc_ranks_first_with_jaccard_one(self, spark):
        from dbldatagen_spark.functions import jaccard_topk

        rows = [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta zeta"),
            (3, "one two three four five"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        top = jaccard_topk(
            df, "doc_id", "text", "alpha beta gamma delta epsilon", top_k=3
        ).collect()
        assert top[0]["doc_id"] == 1 and top[0]["jaccard"] == 1.0
        assert top[1]["doc_id"] == 2 and 0 < top[1]["jaccard"] < 1
        # doc 3 shares no shingle: excluded entirely
        assert [r["doc_id"] for r in top] == [1, 2]

    def test_short_query_and_validation(self, spark):
        from dbldatagen_spark.functions import jaccard_topk, query_shingles

        assert query_shingles("a b", 3) == ["a b"]
        assert query_shingles("   ", 3) == []
        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        top = jaccard_topk(df, "doc_id", "text", "a b", top_k=1).collect()
        assert top[0]["jaccard"] == 1.0
        with pytest.raises(ValueError, match="no words"):
            jaccard_topk(df, "doc_id", "text", "  ")
        with pytest.raises(ValueError, match="top_k"):
            jaccard_topk(df, "doc_id", "text", "a b", top_k=0)

    def test_topk_plan_shape(self, spark):
        from dbldatagen_spark.functions import jaccard_topk

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        qe = jaccard_topk(
            docs, "doc_id", "text", "spark batch part line"
        )._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        # two exchanges: the ensure_parallelism repartition spreading the
        # shingle work, and the aggregate barrier's hash exchange of one
        # (id, long, double) row per doc that keeps the n_common cut from
        # being pushed below the repartition (r15)
        assert plan.count("Exchange") <= 2
        assert "Join" not in plan
        # the regression the barrier exists for: no Filter in the
        # optimized plan may re-evaluate the shingle pipeline
        opt = qe.optimizedPlan().toString()
        bad = [ln for ln in opt.splitlines()
               if ln.strip().startswith("Filter")
               and ("array_intersect" in ln or "array_distinct" in ln)]
        assert not bad, bad


class TestBpeEncode:
    """Expression-only BPE application: one replace node per merge over
    the prefix-marker symbol string; greedy-leftmost == training fold."""

    MERGES = [("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
              ("an", "d"), ("e", "r")]

    @staticmethod
    def _py_encode(text, merges):
        import re as _re

        toks = []
        for w in _re.split("[^a-z]+", text.lower()):
            if not w:
                continue
            syms = list(w)
            for l, r in [(m[0], m[1]) for m in merges]:
                i, out = 0, []
                while i < len(syms):
                    if (i + 1 < len(syms) and syms[i] == l
                            and syms[i + 1] == r):
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            toks.extend(syms)
        return toks

    def test_boundary_adjacency_overlap_cases(self, spark):
        from dbldatagen_spark.functions import bpe_encode

        rows = [
            # (e,r) must NOT fire across the "the|r" token boundary
            (1, "other"),
            # adjacent merge sites must BOTH fire (no shared-space skip)
            (2, "erer rere"),
            # overlapping sites resolve leftmost-first
            (3, "aaa"),
            (4, "The THIN and!! other?"),
        ]
        df = spark.createDataFrame(rows, "id long, text string")
        got = {r["id"]: list(r["bpe_tokens"])
               for r in bpe_encode(df, "text", self.MERGES).collect()}
        assert got[1] == ["o", "the", "r"]
        assert got[2] == self._py_encode("erer rere", self.MERGES)
        overlap = bpe_encode(
            spark.createDataFrame([(1, "aaa")], "id long, text string"),
            "text", [("a", "a")],
        ).collect()[0]["bpe_tokens"]
        assert list(overlap) == ["aa", "a"]
        for i, (_, text) in enumerate(rows, start=1):
            assert got[i] == self._py_encode(text, self.MERGES), text

    def test_trained_merges_roundtrip(self, spark):
        # encode with bpe_train's own merges == the python reference
        # applying the same merges (training fold semantics carry over)
        from dbldatagen_spark.functions import bpe_encode, bpe_train

        rows = [(i, t) for i, t in enumerate(
            ["the thin other there", "another thing neither",
             "thin the and other", "era the rethink"] * 3)]
        df = spark.createDataFrame(rows, "id long, text string")
        merges = bpe_train(df, "text", num_merges=6)
        got = {r["id"]: list(r["bpe_tokens"])
               for r in bpe_encode(df, "text", merges).collect()}
        for i, t in rows:
            assert got[i] == self._py_encode(t, merges), (t, merges)

    def test_map_only_plan_and_validation(self, spark):
        from dbldatagen_spark.functions import bpe_encode

        df = spark.createDataFrame([(1, "abc")], "id long, text string")
        plan = bpe_encode(df, "text", self.MERGES)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan
        assert "EvalPython" not in plan
        with pytest.raises(ValueError, match="at least one"):
            bpe_encode(df, "text", [])
        with pytest.raises(ValueError, match="space-free"):
            bpe_encode(df, "text", [("a b", "c")])

    def test_plan_width_guard_raises_actionably(self, spark):
        # a production-size merge table must fail LOUDLY at call time
        # (Catalyst analysis would blow up long before execution), and
        # the message must name the chunked escape hatch
        from dbldatagen_spark.functions import bpe_encode

        df = spark.createDataFrame([(1, "abc")], "id long, text string")
        big = self.MERGES + [
            (f"zq{chr(97 + i % 26)}", f"xv{chr(97 + i // 26 % 26)}{i}")
            for i in range(2000 - len(self.MERGES))
        ]
        with pytest.raises(ValueError, match="checkpoint_chunk"):
            bpe_encode(df, "text", big)
        with pytest.raises(ValueError, match="max_merges"):
            bpe_encode(df, "text", self.MERGES, max_merges=0)
        with pytest.raises(ValueError, match="checkpoint_chunk"):
            bpe_encode(df, "text", self.MERGES, checkpoint_chunk=0)

    def test_chunked_path_matches_single_plan(self, spark):
        # 2,000 merges through the localCheckpoint-chunked path encode
        # identically to the python greedy reference; cross-chunk merge
        # dependencies (later merges consuming earlier merges' symbols)
        # are exercised by chunking the REAL merges one per chunk
        from dbldatagen_spark.functions import bpe_encode

        rows = [(1, "other there"), (2, "erer the rethink")]
        df = spark.createDataFrame(rows, "id long, text string")
        pad = [(f"zq{i}", f"xv{i}") for i in range(2000 - len(self.MERGES))]
        big = self.MERGES + pad  # pad merges never match (no such syms)
        got = {r["id"]: list(r["bpe_tokens"])
               for r in bpe_encode(
                   df, "text", big, checkpoint_chunk=128).collect()}
        for i, t in rows:
            assert got[i] == self._py_encode(t, self.MERGES), t
        tight = {r["id"]: list(r["bpe_tokens"])
                 for r in bpe_encode(
                     df, "text", self.MERGES, checkpoint_chunk=1).collect()}
        assert tight == {i: self._py_encode(t, self.MERGES) for i, t in rows}


class TestFileRowsReport:
    def test_partitioned_write_layout(self, spark, tmp_path):
        from dbldatagen_spark.functions import file_rows_report

        path = str(tmp_path / "t")
        (spark.range(10_000)
         .withColumn("bucket", F.col("id") % 7)
         .repartition("bucket")
         .write.partitionBy("bucket").parquet(path))
        rep = file_rows_report(
            spark.read.parquet(path), target_rows_per_file=3000
        ).collect()[0]
        assert rep["n_files"] == 7
        assert rep["total_rows"] == 10_000
        # 10000 = 7*1428 + 4: four buckets get 1429
        assert (rep["min_rows"], rep["max_rows"]) == (1428, 1429)
        assert rep["recommended_files"] == 4  # ceil(10000/3000)

    def test_single_file_and_validation(self, spark):
        from dbldatagen_spark.functions import file_rows_report

        df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        rep = file_rows_report(df).collect()[0]
        assert rep["n_files"] == 1
        assert rep["total_rows"] == df.count()
        assert "recommended_files" not in rep.asDict()
        with pytest.raises(ValueError, match="target_rows_per_file"):
            file_rows_report(df, target_rows_per_file=0)


class TestScriptProfile:
    def test_fixture_counts_and_dominance(self, spark):
        from dbldatagen_spark.functions import script_profile

        rows = [(1, "Hello world"), (2, "Привет мир"), (3, "你好世界"),
                (4, "Hello Привет 123!"), (5, ""), (6, None),
                (7, "こんにちはカタカナ")]
        df = spark.createDataFrame(rows, "id long, text string")
        got = {r["id"]: r for r in script_profile(df, "text").collect()}
        assert (got[1]["latin"], got[1]["dominant_script"]) == (10, "latin")
        assert (got[2]["cyrillic"], got[2]["dominant_script"]) == (9, "cyrillic")
        assert (got[3]["han"], got[3]["n_chars"]) == (4, 4)
        assert (got[4]["latin"], got[4]["cyrillic"], got[4]["digits"]) == (5, 6, 3)
        assert got[4]["dominant_script"] == "cyrillic"
        assert got[5]["dominant_script"] == "none"
        assert got[6]["n_chars"] is None
        assert (got[7]["hiragana"], got[7]["katakana"]) == (5, 4)
        assert got[7]["dominant_script"] == "hiragana"

    def test_map_only_plan(self, spark):
        from dbldatagen_spark.functions import script_profile

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = script_profile(docs, "text")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan
        assert "EvalPython" not in plan


class TestFlattenJson:
    def test_nested_flatten_and_schema_merge(self, spark):
        from dbldatagen_spark.functions import flatten_json

        rows = [
            (1, '{"k": 1, "user": {"name": "a", "geo": {"cc": "US"}},'
                ' "tags": ["x","y"]}'),
            (2, '{"k": 2, "user": {"name": "b"}, "extra": 3.5}'),
            (3, "not json at all"),
            (4, None),
        ]
        df = spark.createDataFrame(rows, "id long, props string")
        out = flatten_json(df, "props")
        assert "props" not in out.columns           # dropped by default
        got = {r["id"]: r for r in out.collect()}
        assert got[1]["k"] == 1 and got[1]["user_geo_cc"] == "US"
        assert list(got[1]["tags"]) == ["x", "y"]   # arrays kept as arrays
        assert got[2]["extra"] == 3.5 and got[2]["user_geo_cc"] is None
        # unparseable / NULL rows -> NULLs everywhere, never dropped
        assert got[3]["k"] is None and got[4]["k"] is None
        kept = flatten_json(df, "props", drop=False)
        assert "props" in kept.columns

    def test_real_props_column_and_validation(self, spark):
        from dbldatagen_spark.functions import flatten_json

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        out = flatten_json(ev, "props")
        assert "k" in out.columns
        assert out.where(F.col("k").isNotNull()).count() == ev.count()
        with pytest.raises(ValueError, match="sample_size"):
            flatten_json(ev, "props", sample_size=0)
        empty = spark.createDataFrame([(1, None)], "id long, j string")
        with pytest.raises(ValueError, match="no non-NULL"):
            flatten_json(empty, "j")

    def test_map_only_after_sampling(self, spark):
        from dbldatagen_spark.functions import flatten_json

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        plan = flatten_json(ev, "props")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan
        assert "EvalPython" not in plan

    def test_tail_only_field_is_sampled(self, spark):
        # schema drift across a partitioned corpus: a field that first
        # appears in the LAST partition must still be inferred — the
        # striped per-partition sample sees every partition's head,
        # where a plain limit() would read only the first partitions
        from dbldatagen_spark.functions import flatten_json

        rows = [(i, '{"a": 1}') for i in range(60)] + [
            (100 + i, '{"a": 2, "late": "x"}') for i in range(5)
        ]
        # 13 explicit partitions of 5 rows: the last partition holds
        # exactly the late rows (parallelize slices the list in order)
        rdd = spark.sparkContext.parallelize(rows, 13)
        df = spark.createDataFrame(rdd, "id long, props string")
        out = flatten_json(df, "props", sample_size=10)
        assert "late" in out.columns
        got = {r["id"]: r for r in out.collect()}
        assert got[100]["late"] == "x" and got[0]["late"] is None

    def test_explicit_schema_skips_sampling(self, spark):
        from dbldatagen_spark.functions import flatten_json
        from pyspark.sql import types as T

        df = spark.createDataFrame(
            [(1, '{"u": {"n": 7}}'), (2, None)], "id long, props string"
        )
        schema = T.StructType([
            T.StructField("u", T.StructType([
                T.StructField("n", T.LongType()),
            ])),
            T.StructField("ghost", T.StringType()),
        ])
        out = flatten_json(df, "props", schema=schema)
        got = {r["id"]: r for r in out.collect()}
        assert got[1]["u_n"] == 7 and got[1]["ghost"] is None
        assert got[2]["u_n"] is None  # NULL json row survives
        with pytest.raises(ValueError, match="could not infer|fields"):
            flatten_json(df, "props", schema=T.StructType([]))

    def test_name_collisions_raise_and_odd_names_resolve(self, spark):
        from dbldatagen_spark.functions import flatten_json

        # flattened name colliding with a surviving input column
        df = spark.createDataFrame(
            [(1, "kept", '{"k": 9}')], "id long, k string, props string"
        )
        with pytest.raises(ValueError, match="collide"):
            flatten_json(df, "props")
        # dropping the json col doesn't save a clash with 'k'
        out = flatten_json(df.drop("k"), "props")
        assert out.collect()[0]["k"] == 9
        # dotted field names resolve structurally (no F.col path parse)
        dotted = spark.createDataFrame(
            [(1, '{"a.b": 5, "x": {"c.d": 6}}')], "id long, props string"
        )
        row = flatten_json(dotted, "props").collect()[0]
        assert row["a.b"] == 5 and row["x_c.d"] == 6
        # an existing _fj column must not be clobbered by the temp
        shadow = spark.createDataFrame(
            [(1, "keepme", '{"v": 3}')], "id long, _fj string, props string"
        )
        row = flatten_json(shadow, "props").collect()[0]
        assert row["_fj"] == "keepme" and row["v"] == 3


class TestLanguageRouting:
    FIXTURES = [
        (1, "the quick brown fox and the lazy dog is that for with a", "en"),
        (2, "der hund und die katze ist nicht ein tier mit zu", "de"),
        (3, "le chat et la maison les des est une dans pour que", "fr"),
        (4, "el perro la casa que de los una por con para es", "es"),
        (5, "你好世界 这是 中文", "zh"),
        (6, "Привет мир как дела", "und-cyrl"),
        (7, "مرحبا بالعالم", "und-arab"),
        (8, "नमस्ते दुनिया", "und-deva"),
        (9, "안녕하세요 세계", "und-hang"),
        (10, "こんにちは せかい", "und-jpan"),
        (11, "カタカナ テキスト", "und-jpan"),
        (12, "γειά σου κόσμε", "und-grek"),
        (13, "שלום עולם", "und-hebr"),
        # language ID outranks script when stopwords fire on mixed text
        (14, "the мир and the дела of it", "en"),
        (15, "zxqwv plmkj trfde", "und"),   # latin, zero stopword hits
        (16, "12345 67890", "und"),          # digits only: no script
        (17, "", "und"),
        (18, None, "und"),
    ]

    def test_route_branches(self, spark):
        from dbldatagen_spark.functions import route_by_language

        df = spark.createDataFrame(
            [(i, t) for i, t, _ in self.FIXTURES], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: r["route"]
            for r in route_by_language(df, "text").collect()
        }
        assert got == {i: want for i, _, want in self.FIXTURES}

    def test_route_plan_map_only(self, spark, docs):
        from dbldatagen_spark.functions import route_by_language

        plan = (
            route_by_language(docs, "text")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan
        assert "Python" not in plan

    def test_route_write_partition_layout(self, spark, tmp_path):
        """Partitioned-write splitter: Hive-style route=<tag> directories,
        read-back identical routing, and — regression for the 64 KB
        generated-code blowup the chained-when formulation hit — the
        write must succeed with codegen fallback DISABLED (a compile
        failure then raises instead of silently interpreting)."""
        import os

        from dbldatagen_spark.functions import route_by_language

        df = spark.createDataFrame(
            [(i, t) for i, t, _ in self.FIXTURES], "doc_id long, text string"
        )
        out = str(tmp_path / "routed")
        old = spark.conf.get("spark.sql.codegen.fallback", "true")
        spark.conf.set("spark.sql.codegen.fallback", "false")
        try:
            route_by_language(df, "text", out_path=out)
        finally:
            spark.conf.set("spark.sql.codegen.fallback", old)
        dirs = {d for d in os.listdir(out) if d.startswith("route=")}
        want_routes = {want for _, _, want in self.FIXTURES}
        assert dirs == {f"route={r}" for r in want_routes}
        back = spark.read.parquet(out)
        got = {r["doc_id"]: r["route"] for r in back.collect()}
        assert got == {i: want for i, _, want in self.FIXTURES}
        # per-language read partition-prunes to one directory
        en_only = back.where(F.col("route") == "en")
        assert en_only.count() == 2
        scan = en_only._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(route" in scan


class TestQualityClassifier:
    TEXT = "the cat and the dog runs 123 fast !!! extra words here now"

    @staticmethod
    def _features(text):
        import re

        toks = re.split(r"\s+", text.strip().lower())
        n_chars = len(text)
        n_tokens = max(len(toks), 1)
        n_distinct = len(set(toks))
        alpha = len(re.sub(r"[^A-Za-z]", "", text))
        digits = len(re.sub(r"[^0-9]", "", text))
        punct = len(re.sub(r"[^.,;:!?'\"()-]", "", text))
        en = {"the", "and", "of", "to", "in", "is", "that", "for", "with", "a"}
        stop_hits = len(set(toks) & en)
        return {
            "alpha_ratio": alpha / max(n_chars, 1),
            "digit_ratio": digits / max(n_chars, 1),
            "punct_ratio": punct / max(n_chars, 1),
            "distinct_ratio": n_distinct / n_tokens,
            "stop_ratio": stop_hits / 10.0,
            "length_score": min(len(toks) / 100.0, 1.0),
        }

    def test_logit_bit_exact(self, spark):
        """The logit is a left-to-right IEEE fold in the documented
        feature order — the Python replay (same doubles, same order)
        must match EXACTLY, not approximately."""
        from dbldatagen_spark.functions import (
            QUALITY_CLASSIFIER_BIAS,
            QUALITY_CLASSIFIER_FEATURES,
            QUALITY_CLASSIFIER_WEIGHTS,
            quality_classifier_score,
        )

        df = spark.createDataFrame([(1, self.TEXT)], "doc_id long, text string")
        row = quality_classifier_score(df, "doc_id", "text").collect()[0]
        feats = self._features(self.TEXT)
        logit = QUALITY_CLASSIFIER_BIAS
        for name in QUALITY_CLASSIFIER_FEATURES:
            logit = logit + QUALITY_CLASSIFIER_WEIGHTS[name] * feats[name]
        for name in QUALITY_CLASSIFIER_FEATURES:
            assert row[name] == feats[name], name
        assert row["logit"] == logit
        assert row["keep"] == (logit >= 0.0)

    def test_custom_weights_subset_and_threshold(self, spark):
        from dbldatagen_spark.functions import quality_classifier_score

        df = spark.createDataFrame([(1, self.TEXT)], "doc_id long, text string")
        feats = self._features(self.TEXT)
        row = quality_classifier_score(
            df, "doc_id", "text",
            weights={"alpha_ratio": 2.0}, bias=-1.0,
            keep_threshold_logit=0.5,
        ).collect()[0]
        want = -1.0 + 2.0 * feats["alpha_ratio"]
        assert row["logit"] == want
        assert row["keep"] == (want >= 0.5)

    def test_unknown_feature_raises(self, spark):
        from dbldatagen_spark.functions import quality_classifier_score

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="unknown feature"):
            quality_classifier_score(
                df, "doc_id", "text", weights={"nope": 1.0}
            )

    def test_plan_map_only(self, spark, docs):
        from dbldatagen_spark.functions import quality_classifier_score

        plan = (
            quality_classifier_score(docs, "doc_id", "text")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Python" not in plan

    def test_null_text_all_null_in_both_ansi_modes(self, spark):
        """NULL text -> every output NULL, identically under default
        and ANSI configs (ungated, size(NULL) is -1 vs NULL between
        the modes and would leak garbage negative features)."""
        from dbldatagen_spark.functions import (
            QUALITY_CLASSIFIER_FEATURES,
            quality_classifier_score,
        )

        df = spark.createDataFrame(
            [(1, None), (2, "the and of it")], "doc_id long, text string"
        )
        old = spark.conf.get("spark.sql.ansi.enabled", "false")
        try:
            for mode in ("false", "true"):
                spark.conf.set("spark.sql.ansi.enabled", mode)
                rows = {
                    r["doc_id"]: r
                    for r in quality_classifier_score(
                        df, "doc_id", "text"
                    ).collect()
                }
                cols = list(QUALITY_CLASSIFIER_FEATURES) + [
                    "logit", "prob", "keep",
                ]
                assert all(rows[1][c] is None for c in cols), mode
                assert all(rows[2][c] is not None for c in cols), mode
        finally:
            spark.conf.set("spark.sql.ansi.enabled", old)


class TestTemperatureWeights:
    def test_alpha_half_exact(self, spark):
        from dbldatagen_spark.functions import temperature_weights

        rows = [(i, g) for g, n in (("a", 4), ("b", 1), ("c", 9))
                for i in range(n)]
        df = spark.createDataFrame(rows, "id long, grp string")
        got = {
            r["grp"]: r
            for r in temperature_weights(
                df, "grp", alpha=0.5, total_budget=12
            ).collect()
        }
        # sqrt counts 2,1,3; ordered fold a,b,c: ((0+2)+1)+3 = 6
        assert got["a"]["weight"] == 2.0 / 6.0
        assert got["b"]["weight"] == 1.0 / 6.0
        assert got["c"]["weight"] == 3.0 / 6.0
        assert [got[g]["target_docs"] for g in "abc"] == [4, 2, 6]

    def test_alpha_extremes(self, spark):
        from dbldatagen_spark.functions import temperature_weights

        df = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "b"), (4, "b")], "id long, grp string"
        )
        nat = {r["grp"]: r["weight"]
               for r in temperature_weights(df, "grp", alpha=1.0).collect()}
        assert nat == {"a": 0.25, "b": 0.75}
        uni = {r["grp"]: r["weight"]
               for r in temperature_weights(df, "grp", alpha=0.0).collect()}
        assert uni == {"a": 0.5, "b": 0.5}
        with pytest.raises(ValueError, match="alpha"):
            temperature_weights(df, "grp", alpha=-1)

    def test_no_budget_no_target_col(self, spark):
        from dbldatagen_spark.functions import temperature_weights

        df = spark.createDataFrame([(1, "a")], "id long, grp string")
        assert "target_docs" not in temperature_weights(df, "grp").columns


class TestScoreBuckets:
    def test_even_terciles(self, spark):
        from dbldatagen_spark.functions import score_buckets

        df = spark.createDataFrame(
            [(i, float(i)) for i in range(1, 10)], "id long, s double"
        )
        got = {r["id"]: r["bucket"]
               for r in score_buckets(df, "id", "s", n_bins=256).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 2, 5: 2, 6: 2,
                       7: 3, 8: 3, 9: 3}

    def test_constant_scores_single_bucket(self, spark):
        from dbldatagen_spark.functions import score_buckets

        df = spark.createDataFrame(
            [(i, 5.0) for i in range(6)], "id long, s double"
        )
        buckets = {r["bucket"]
                   for r in score_buckets(df, "id", "s").collect()}
        assert buckets == {1}

    def test_grouped_and_fixed_range(self, spark):
        from dbldatagen_spark.functions import score_buckets

        rows = [(i, "g1", float(i)) for i in range(1, 10)]
        rows += [(100 + i, "g2", float(10 * i)) for i in range(1, 10)]
        df = spark.createDataFrame(rows, "id long, grp string, s double")
        out = score_buckets(df, "id", "s", group_col="grp", n_bins=512)
        counts = {(r["grp"], r["bucket"]): r["count"]
                  for r in out.groupBy("grp", "bucket").count().collect()}
        assert all(v == 3 for v in counts.values()) and len(counts) == 6
        # fixed range: same bins regardless of group extremes
        fixed = score_buckets(
            df, "id", "s", group_col="grp", lo=0.0, hi=100.0, n_bins=100
        )
        assert fixed.where("bucket IS NULL").count() == 0

    def test_validation(self, spark):
        from dbldatagen_spark.functions import score_buckets

        df = spark.createDataFrame([(1, 1.0)], "id long, s double")
        with pytest.raises(ValueError, match="n_buckets"):
            score_buckets(df, "id", "s", n_buckets=1)
        with pytest.raises(ValueError, match="n_bins"):
            score_buckets(df, "id", "s", n_buckets=3, n_bins=2)
        with pytest.raises(ValueError, match="lo and hi"):
            score_buckets(df, "id", "s", lo=0.0)
        with pytest.raises(ValueError, match="bucket_col"):
            score_buckets(df.withColumn("bucket", F.lit(1)), "id", "s")

    def test_pinned_range_extreme_scores_clamp_both_modes(self, spark):
        """Round-11 advice: the bin clamp must run in LONG before the
        int cast — a score far enough above a pinned hi overflowed the
        long-to-int cast (loud under ANSI, silently wrapped under
        default). Extreme finite magnitudes clamp to the edge buckets
        identically under both modes; +/-inf joins NULL/NaN in the
        excluded set (NULL bucket)."""
        from dbldatagen_spark.functions import score_buckets

        inf = float("inf")
        df = spark.createDataFrame(
            [(1, 1e300), (2, -1e300), (3, 0.5), (4, 2.5),
             (5, inf), (6, -inf), (7, float("nan")), (8, None)],
            "id long, s double",
        )
        old = spark.conf.get("spark.sql.ansi.enabled", "false")
        try:
            for mode in ("false", "true"):
                spark.conf.set("spark.sql.ansi.enabled", mode)
                got = {r["id"]: r["bucket"]
                       for r in score_buckets(
                           df, "id", "s", lo=0.0, hi=3.0, n_buckets=3
                       ).collect()}
                # quantile thresholds over the 4 VALID scores: 2.5 is
                # the 3rd of 4 -> bucket 2; the 1e300s clamp to the
                # edge bins and take the tail/head buckets
                assert got == {1: 3, 2: 1, 3: 1, 4: 2,
                               5: None, 6: None, 7: None, 8: None}, mode
        finally:
            spark.conf.set("spark.sql.ansi.enabled", old)

    def test_inf_does_not_poison_derived_range(self, spark):
        """With a derived (unpinned) range, one +inf score would make
        span = inf and push every finite score into bucket 1 — the
        exclusion keeps the finite distribution's buckets intact."""
        from dbldatagen_spark.functions import score_buckets

        rows = [(i, float(i)) for i in range(1, 10)]
        rows.append((100, float("inf")))
        df = spark.createDataFrame(rows, "id long, s double")
        got = {r["id"]: r["bucket"]
               for r in score_buckets(df, "id", "s", n_bins=256).collect()}
        assert got.pop(100) is None
        assert got == {1: 1, 2: 1, 3: 1, 4: 2, 5: 2, 6: 2,
                       7: 3, 8: 3, 9: 3}

    def test_no_global_sort_in_plan(self, spark, docs):
        """The scale claim: no per-group global sort of the corpus — the only
        window runs over the (group, bin) histogram, and assignment is
        a broadcast join."""
        from dbldatagen_spark.functions import (
            quality_classifier_score,
            score_buckets,
        )

        q = quality_classifier_score(docs, "doc_id", "text").select(
            "doc_id", "logit"
        )
        scored = docs.select("doc_id", "lang").join(q, "doc_id")
        plan = (
            score_buckets(scored, "doc_id", "logit", group_col="lang")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SortMergeJoin" not in plan
        assert "Python" not in plan


class TestReviewHardening:
    """Regression tests for the round-11 review findings."""

    def test_guard_raise_path_unpersists(self, spark):
        """When the density guard raises on the persisted-dfreq path
        (max_posting_len AND max_candidate_pairs set), the shared
        document-frequency cache must be released before the error
        propagates — a retry loop must not accumulate cached frames."""
        from dbldatagen_spark.functions import ngram_jaccard_pairs

        rows = [(i, "alpha beta gamma delta epsilon") for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        jsc = spark.sparkContext._jsc

        def _ids():
            # id SET, not size: earlier tests' lingering cached frames
            # (eager localCheckpoints) are unpersisted asynchronously by
            # the ContextCleaner, so a global count can shift under this
            # test's feet; the contract is only that THIS call leaves no
            # new block behind.
            return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

        before = _ids()
        with pytest.raises(ValueError, match="max_posting_len"):
            ngram_jaccard_pairs(
                df, "doc_id", "text",
                max_posting_len=100, max_candidate_pairs=100,
            )
        assert _ids() - before == set()

    def test_substring_dedup_null_text_both_modes(self, spark):
        from dbldatagen_spark.functions import substring_dedup

        df = spark.createDataFrame(
            [(1, None), (2, "a b c a b c a b c")],
            "doc_id long, text string",
        )
        old = spark.conf.get("spark.sql.ansi.enabled", "false")
        try:
            for mode in ("false", "true"):
                spark.conf.set("spark.sql.ansi.enabled", mode)
                rows = {r["doc_id"]: r
                        for r in substring_dedup(
                            df, "doc_id", "text", k=2).collect()}
                for c in ("n_tokens", "deduped_text", "n_tokens_removed"):
                    assert rows[1][c] is None, (mode, c)
                assert rows[2]["n_tokens"] == 9, mode
        finally:
            spark.conf.set("spark.sql.ansi.enabled", old)

    def test_score_buckets_null_and_nan_scores(self, spark):
        """NULL/NaN scores: NULL bucket, excluded from range and
        thresholds — one NaN must not poison the group's min/max."""
        from dbldatagen_spark.functions import score_buckets

        rows = [(i, float(i)) for i in range(1, 10)]
        rows += [(100, None), (101, float("nan"))]
        df = spark.createDataFrame(rows, "id long, s double")
        got = {r["id"]: r["bucket"]
               for r in score_buckets(df, "id", "s", n_bins=256).collect()}
        assert got[100] is None and got[101] is None
        # the 1..9 terciles are unaffected by the invalid rows
        assert [got[i] for i in range(1, 10)] == [1, 1, 1, 2, 2, 2, 3, 3, 3]

    def test_score_buckets_internal_name_collisions(self, spark):
        from dbldatagen_spark.functions import score_buckets

        df = spark.createDataFrame(
            [(i, float(i), "x") for i in range(1, 10)],
            "id long, s double, _sblo string",
        )
        out = score_buckets(df, "id", "s", n_bins=64)
        assert set(df.columns) <= set(out.columns)  # _sblo survives
        assert {r["_sblo"] for r in out.collect()} == {"x"}

    def test_score_buckets_all_invalid_group_keeps_rows(self, spark):
        from dbldatagen_spark.functions import score_buckets

        rows = [(1, "g1", 1.0), (2, "g1", 2.0), (3, "g2", None)]
        df = spark.createDataFrame(rows, "id long, grp string, s double")
        out = score_buckets(df, "id", "s", group_col="grp", n_buckets=2)
        got = {r["id"]: r["bucket"] for r in out.collect()}
        assert len(got) == 3 and got[3] is None

    def test_temperature_weights_group_col_collision_raises(self, spark):
        from dbldatagen_spark.functions import temperature_weights

        df = spark.createDataFrame([(1, "a")], "id long, weight string")
        with pytest.raises(ValueError, match="collides"):
            temperature_weights(df, "weight")


class TestKeepBestCanonicals:
    def test_argmax_with_ties_and_nulls(self, spark):
        from dbldatagen_spark.functions import keep_best_canonicals

        clusters = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (10, 10), (20, 20), (21, 20)],
            "doc_id long, canonical_id long",
        )
        scores = spark.createDataFrame(
            [(1, 0.2), (2, 0.9), (3, 0.9), (10, None), (20, None), (21, None)],
            "doc_id long, logit double",
        )
        out = keep_best_canonicals(clusters, scores, "doc_id", "logit")
        best = {r["canonical_id"]: r["best_id"] for r in out.collect()}
        # tie at 0.9 between 2 and 3 -> smallest id wins
        assert best == {1: 2, 10: 10, 20: 20}
        keep = {r["doc_id"]: r["keep"] for r in out.collect()}
        assert keep == {1: False, 2: True, 3: False,
                        10: True, 20: True, 21: False}

    def test_output_collision_raises(self, spark):
        from dbldatagen_spark.functions import keep_best_canonicals

        clusters = spark.createDataFrame(
            [(1, 1, True)], "doc_id long, canonical_id long, keep boolean"
        )
        scores = spark.createDataFrame([(1, 0.5)], "doc_id long, s double")
        with pytest.raises(ValueError, match="keep"):
            keep_best_canonicals(clusters, scores, "doc_id", "s")

    def test_composes_with_minhash_clusters(self, spark, docs):
        from dbldatagen_spark.functions import (
            keep_best_canonicals,
            minhash_cluster_dedup,
            quality_classifier_score,
        )

        clusters = minhash_cluster_dedup(docs, "doc_id", "text", threshold=0.5)
        scores = quality_classifier_score(docs, "doc_id", "text").select(
            "doc_id", "logit"
        )
        out = keep_best_canonicals(clusters, scores, "doc_id", "logit")
        # exactly one keeper per cluster; keeper's score is the max
        per = out.groupBy("canonical_id").agg(
            F.sum(F.col("keep").cast("int")).alias("n_keep")
        )
        assert per.where("n_keep != 1").count() == 0
        assert out.count() == docs.count()


class TestKeepBestCanonicalsHardening:
    """Round-11 second-review findings: missing scores, string ids,
    NULL cluster labels — no silent row loss anywhere."""

    def test_missing_scores_behave_like_null(self, spark):
        from dbldatagen_spark.functions import keep_best_canonicals

        clusters = spark.createDataFrame(
            [(1, 1), (2, 1), (5, 5)], "doc_id long, canonical_id long"
        )
        scores = spark.createDataFrame(
            [(2, 0.9)], "doc_id long, s double"  # 1 and 5 unscored
        )
        out = keep_best_canonicals(clusters, scores, "doc_id", "s")
        got = {r["doc_id"]: (r["best_id"], r["keep"]) for r in out.collect()}
        # cluster 1: only scored member wins; cluster 5: all-unscored
        # singleton keeps itself — never dropped
        assert got == {1: (2, False), 2: (2, True), 5: (5, True)}

    def test_string_ids_tie_to_smallest(self, spark):
        from dbldatagen_spark.functions import keep_best_canonicals

        clusters = spark.createDataFrame(
            [("b", "a"), ("a", "a"), ("c", "a")],
            "doc_id string, canonical_id string",
        )
        scores = spark.createDataFrame(
            [("a", 0.5), ("b", 0.5), ("c", 0.1)], "doc_id string, s double"
        )
        old = spark.conf.get("spark.sql.ansi.enabled", "false")
        try:
            for mode in ("false", "true"):
                spark.conf.set("spark.sql.ansi.enabled", mode)
                got = {r["doc_id"]: r["keep"]
                       for r in keep_best_canonicals(
                           clusters, scores, "doc_id", "s").collect()}
                assert got == {"a": True, "b": False, "c": False}, mode
        finally:
            spark.conf.set("spark.sql.ansi.enabled", old)

    def test_nan_scores_rank_below_real_scores(self, spark):
        """Round-11 verdict finding: Spark's ordering ranks NaN ABOVE
        every real double, so an unfolded NaN-scored member would
        silently win the arg-max. NaN must behave exactly like NULL —
        below every real score; in an all-NaN/NULL cluster the
        smallest id wins."""
        from dbldatagen_spark.functions import keep_best_canonicals

        nan = float("nan")
        clusters = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
            "doc_id long, canonical_id long",
        )
        scores = spark.createDataFrame(
            [(1, nan), (2, 0.1), (3, None), (10, nan), (11, nan)],
            "doc_id long, s double",
        )
        out = keep_best_canonicals(clusters, scores, "doc_id", "s")
        got = {r["doc_id"]: (r["best_id"], r["keep"]) for r in out.collect()}
        # cluster 1: the only REAL score (0.1) beats both NaN and NULL
        # cluster 10: all-NaN -> tie broken to the smallest id
        assert got == {1: (2, False), 2: (2, True), 3: (2, False),
                       10: (10, True), 11: (10, False)}

    def test_null_cluster_rows_survive_as_singletons(self, spark):
        from dbldatagen_spark.functions import keep_best_canonicals

        clusters = spark.createDataFrame(
            [(1, 1), (2, 1), (7, None)], "doc_id long, canonical_id long"
        )
        scores = spark.createDataFrame(
            [(1, 0.1), (2, 0.9), (7, 0.5)], "doc_id long, s double"
        )
        out = keep_best_canonicals(clusters, scores, "doc_id", "s")
        got = {r["doc_id"]: (r["canonical_id"], r["best_id"], r["keep"])
               for r in out.collect()}
        assert got[7] == (None, 7, True)
        assert got[1] == (1, 2, False) and got[2] == (1, 2, True)


class TestAllocationSingleScan:
    def test_one_corpus_scan_per_allocation(self, spark, tmp_path):
        # the normalizing fold and the main branch both read the
        # per-group frame; without the eager-checkpoint barrier each
        # re-executed the corpus aggregate (two full scans — measured
        # 5.7x vs 0.9x on fertility's 10x probe, where the scan is a
        # full BPE encode).  Contract: the RETURNED plan reads ZERO
        # parquet scans — everything flows from the materialized
        # per-group frame.
        from dbldatagen_spark.functions import (
            fertility_token_allocation,
            temperature_token_allocation,
            temperature_weights,
        )

        p = str(tmp_path / "docs.parquet")
        spark.createDataFrame(
            [("en", "the then and other", 4), ("de", "und oder", 2)],
            ["lang", "text", "n_tok"],
        ).write.parquet(p)
        docs = spark.read.parquet(p)
        frames = [
            temperature_weights(docs, "lang"),
            temperature_token_allocation(
                docs, "lang", "n_tok", target_tokens=100),
            fertility_token_allocation(
                docs, "lang", "text", [("t", "h")], target_tokens=100),
        ]
        for out in frames:
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert plan.count("Scan parquet") == 0, plan
        # cache=False: fully lazy, lineage-recoverable — identical
        # values, corpus scans back in the plan
        lazy = temperature_token_allocation(
            docs, "lang", "n_tok", target_tokens=100, cache=False)
        assert lazy._jdf.queryExecution().executedPlan().toString().count(
            "Scan parquet") > 0
        assert sorted(map(tuple, lazy.collect())) == sorted(
            map(tuple, frames[1].collect()))


class TestTemperatureTokenAllocation:
    def _frame(self, spark):
        # tokens: a=1000, b=100, c=10, d=0
        rows = [(i, "a", 100) for i in range(10)]
        rows += [(100 + i, "b", 25) for i in range(4)]
        rows += [(200, "c", 10), (300, "d", 0)]
        return spark.createDataFrame(rows, "id long, src string, tok long")

    def test_exact_budget_and_largest_remainder(self, spark):
        import math

        from dbldatagen_spark.functions import temperature_token_allocation

        df = self._frame(spark)
        out = temperature_token_allocation(
            df, "src", "tok", alpha=0.5, target_tokens=1000
        )
        rows = {r["src"]: r for r in out.collect()}
        assert sum(r["target_tokens"] for r in rows.values()) == 1000
        # python replay of the documented rule: sqrt mass, key-sorted
        # fold, floor + largest-remainder (frac desc, key asc)
        mass = {"a": 1000.0, "b": 100.0, "c": 10.0, "d": 0.0}
        tot = 0.0
        for g in sorted(mass):
            tot += math.sqrt(mass[g])
        raw = {g: 1000.0 * (math.sqrt(m) / tot) for g, m in mass.items()}
        base = {g: math.floor(v) for g, v in raw.items()}
        rem = 1000 - sum(base.values())
        order = sorted(mass, key=lambda g: (-(raw[g] - base[g]), g))
        want = {g: base[g] + (1 if order.index(g) < rem else 0)
                for g in mass}
        got = {g: rows[g]["target_tokens"] for g in rows}
        assert got == want
        assert rows["d"]["weight"] == 0.0 and rows["d"]["n_tokens"] == 0

    def test_alpha_extremes(self, spark):
        from dbldatagen_spark.functions import temperature_token_allocation

        df = self._frame(spark).where("src != 'd'")
        uni = temperature_token_allocation(
            df, "src", "tok", alpha=0.0, target_tokens=9
        )
        assert {r["target_tokens"] for r in uni.collect()} == {3}
        nat = {r["src"]: r for r in temperature_token_allocation(
            df, "src", "tok", alpha=1.0, target_tokens=1110
        ).collect()}
        # alpha=1: proportional to raw token mass (1000/100/10)
        assert {g: r["target_tokens"] for g, r in nat.items()} == {
            "a": 1000, "b": 100, "c": 10}

    def test_partition_stability(self, spark):
        from dbldatagen_spark.functions import temperature_token_allocation

        df = self._frame(spark)
        a = sorted(map(tuple, temperature_token_allocation(
            df.repartition(2), "src", "tok", target_tokens=777
        ).collect()))
        b = sorted(map(tuple, temperature_token_allocation(
            df.repartition(7), "src", "tok", target_tokens=777
        ).collect()))
        assert a == b

    def test_validation(self, spark):
        from dbldatagen_spark.functions import temperature_token_allocation

        df = self._frame(spark)
        with pytest.raises(ValueError, match="alpha"):
            temperature_token_allocation(
                df, "src", "tok", alpha=-1, target_tokens=10
            )
        with pytest.raises(ValueError, match="target_tokens"):
            temperature_token_allocation(
                df, "src", "tok", target_tokens=-5
            )
        with pytest.raises(ValueError, match="collides"):
            temperature_token_allocation(
                df.withColumnRenamed("src", "weight"), "weight", "tok",
                target_tokens=10,
            )


class TestParagraphDedup:
    def _corpus(self, spark):
        # P1 appears in docs 1, 2, 3; P2 in docs 1 and 3; doc 4 unique;
        # doc 5 has a short structural paragraph under min_tokens
        p1 = "alpha beta gamma delta epsilon"
        p2 = "zeta eta theta iota kappa"
        return spark.createDataFrame(
            [
                (1, f"{p1}\n\nown one text here\n\n{p2}"),
                (2, f"intro two words here\n\n{p1}"),
                (3, f"{p2}\n\n{p1}\n\nclosing three remark line"),
                (4, "entirely unique document four"),
                (5, f"hi\n\n{p1}"),
                (6, None),
            ],
            "doc_id long, text string",
        )

    def test_exact_first_occurrence_survives(self, spark):
        from dbldatagen_spark.functions import paragraph_dedup

        out = {r["doc_id"]: r for r in paragraph_dedup(
            self._corpus(spark), "doc_id", "text", method="exact"
        ).collect()}
        # doc 1 keeps everything (both P1 and P2 first occur there)
        assert out[1]["deduped_text"] == \
            "alpha beta gamma delta epsilon\n\nown one text here\n\n" \
            "zeta eta theta iota kappa"
        assert out[1]["n_paragraphs_removed"] == 0
        # docs 2/3 lose their copies
        assert out[2]["deduped_text"] == "intro two words here"
        assert out[2]["n_paragraphs_removed"] == 1
        assert out[3]["deduped_text"] == "closing three remark line"
        assert out[3]["n_paragraphs_removed"] == 2
        assert out[4]["n_paragraphs_removed"] == 0
        # doc 5: P1 is a later copy (removed); "hi" survives
        assert out[5]["deduped_text"] == "hi"
        # NULL text -> NULL everywhere
        assert out[6]["deduped_text"] is None
        assert out[6]["n_paragraphs"] is None

    def test_min_tokens_structural(self, spark):
        from dbldatagen_spark.functions import paragraph_dedup

        df = spark.createDataFrame(
            [(1, "hi\n\nlong paragraph of words"),
             (2, "hi\n\nother body of text")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in paragraph_dedup(
            df, "doc_id", "text", method="exact", min_tokens=2
        ).collect()}
        # "hi" (1 token) is structural in BOTH docs — never deduped
        assert out[1]["deduped_text"].startswith("hi")
        assert out[2]["deduped_text"].startswith("hi")
        assert out[2]["n_paragraphs_removed"] == 0

    def test_minhash_near_duplicates_collapse(self, spark):
        from dbldatagen_spark.functions import paragraph_dedup

        base = "the quick brown fox jumps over the lazy dog again today"
        near = "the quick brown fox jumps over the lazy dog again now"
        df = spark.createDataFrame(
            [
                (1, f"{base}\n\nunrelated filler words entirely"),
                (2, f"{near}\n\nsome other paragraph body"),
                (3, "completely different content paragraph"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in paragraph_dedup(
            df, "doc_id", "text", method="minhash", threshold=0.5
        ).collect()}
        # near-dup paragraph survives only in doc 1 (corpus order)
        assert out[1]["n_paragraphs_removed"] == 0
        assert out[2]["n_paragraphs_removed"] == 1
        assert out[2]["deduped_text"] == "some other paragraph body"
        assert out[3]["n_paragraphs_removed"] == 0

    def test_whole_doc_removed_rebuilds_empty(self, spark):
        from dbldatagen_spark.functions import paragraph_dedup

        df = spark.createDataFrame(
            [(1, "only paragraph body here"),
             (2, "only paragraph body here")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in paragraph_dedup(
            df, "doc_id", "text", method="exact"
        ).collect()}
        assert out[2]["deduped_text"] == ""
        assert out[2]["n_paragraphs_removed"] == 1

    def test_partition_stability(self, spark):
        from dbldatagen_spark.functions import paragraph_dedup

        df = self._corpus(spark)
        a = sorted(map(tuple, paragraph_dedup(
            df.repartition(3), "doc_id", "text", method="exact"
        ).collect()), key=str)
        b = sorted(map(tuple, paragraph_dedup(
            df.repartition(9), "doc_id", "text", method="exact"
        ).collect()), key=str)
        assert a == b

    def test_minhash_requires_integral_ids(self, spark):
        from dbldatagen_spark.functions import paragraph_dedup

        df = spark.createDataFrame(
            [("a", "some text here"), ("b", "other text there")],
            "doc_id string, text string",
        )
        with pytest.raises(ValueError, match="integral"):
            paragraph_dedup(df, "doc_id", "text", method="minhash")
        # exact arm works for any orderable id type
        out = paragraph_dedup(df, "doc_id", "text", method="exact")
        assert out.count() == 2

    def test_validation(self, spark):
        from dbldatagen_spark.functions import paragraph_dedup

        df = self._corpus(spark)
        with pytest.raises(ValueError, match="method"):
            paragraph_dedup(df, "doc_id", "text", method="simhash")
        with pytest.raises(ValueError, match="min_tokens"):
            paragraph_dedup(df, "doc_id", "text", min_tokens=0)
        with pytest.raises(ValueError, match="already exist"):
            paragraph_dedup(
                df.withColumn("n_paragraphs", F.lit(1)), "doc_id", "text"
            )

    def test_minhash_negative_id_raises(self, spark):
        from dbldatagen_spark.functions import paragraph_dedup

        # the corpus-order pid needs non-negative ids; the in-plan
        # guard on the pid expression raises instead of silently
        # mis-ordering (r16: was a SEPARATE eager min(id) scan per
        # call — now it rides the clustering pass's own evaluation
        # of the pid, so the dedicated guard job is gone).  The
        # minhash arm's label propagation is eager (checkpointed),
        # so the raise still surfaces from the constructor — as
        # Spark's runtime-exception type now, not ValueError.
        df = spark.createDataFrame(
            [(-5, "some body of text"), (1, "other body here")],
            "doc_id long, text string",
        )
        with pytest.raises(Exception, match="negative"):
            paragraph_dedup(df, "doc_id", "text", method="minhash")
        # exact arm is id-agnostic
        assert paragraph_dedup(
            df, "doc_id", "text", method="exact"
        ).count() == 2

    def test_minhash_negative_id_below_min_tokens_passes(self, spark):
        from dbldatagen_spark.functions import paragraph_dedup

        # the negative-id check rides the paragraph id, so a row whose
        # paragraphs are all structural (below min_tokens) never builds
        # one and passes through untouched
        dup = "some body of text here"
        df = spark.createDataFrame(
            [(-5, "hi\n\nyo"), (1, f"{dup}\n\nhi"), (2, dup)],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in paragraph_dedup(
            df, "doc_id", "text", method="minhash", min_tokens=2
        ).collect()}
        assert out[-5]["deduped_text"] == "hi\n\nyo"
        assert out[-5]["n_paragraphs_removed"] == 0
        assert out[1]["n_paragraphs_removed"] == 0
        assert out[2]["deduped_text"] == ""
        assert out[2]["n_paragraphs_removed"] == 1

    def test_minhash_13_digit_ids_keep_corpus_order(self, spark):
        from dbldatagen_spark.functions import paragraph_dedup

        # 999_999_999_999 (12 digits) < 1_000_000_000_000 (13): under
        # a %012d key the 13-digit id overflows its field and sorts
        # FIRST ('1...' < '9...'), inverting the survivor; the %019d
        # key keeps corpus order for any non-negative int64
        dup = "the shared paragraph body words here"
        df = spark.createDataFrame(
            [
                (999_999_999_999, f"{dup}\n\nunique small doc tail"),
                (1_000_000_000_000, f"{dup}\n\nsolo big ending line"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in paragraph_dedup(
            df, "doc_id", "text", method="minhash"
        ).collect()}
        assert out[999_999_999_999]["n_paragraphs_removed"] == 0
        assert out[1_000_000_000_000]["n_paragraphs_removed"] == 1
        assert out[1_000_000_000_000]["deduped_text"] == \
            "solo big ending line"


class TestIvfpqTuneNprobe:
    @pytest.fixture(scope="class")
    def built(self, spark):
        from dbldatagen_spark.functions import ivfpq_build

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        idx, cents, cb = ivfpq_build(
            emb, "vec_id", "v", n_cells=4, m=8, k=16,
            coarse_max_iter=4, pq_max_iter=4,
        )
        return emb, idx.cache(), cents

    def test_monotone_and_terminal_recall(self, spark, built):
        from dbldatagen_spark.functions import ivfpq_tune_nprobe

        emb, idx, cents = built
        rep = ivfpq_tune_nprobe(
            idx, emb, "vec_id", "v", cents, k=5,
            n_probes=(1, 2, 4), n_queries=3,
        )
        per = {}
        for r in rep.collect():
            per.setdefault(r["qid"], []).append((r["n_probe"], r["recall"]))
        assert len(per) == 3
        for qid, lst in per.items():
            lst.sort()
            recs = [x[1] for x in lst]
            # nested probe prefixes -> monotone nondecreasing
            assert recs == sorted(recs), (qid, recs)
            # probing every cell recovers every exact neighbor
            assert recs[-1] == 1.0, (qid, recs)
            # n_hits consistent with recall
            for (p, rec), r2 in zip(lst, sorted(
                [r for r in rep.collect() if r["qid"] == qid],
                key=lambda r: r["n_probe"],
            )):
                assert r2["n_hits"] == round(rec * 5)

    def test_replayable_across_partitioning(self, spark, built):
        from dbldatagen_spark.functions import ivfpq_tune_nprobe

        emb, idx, cents = built
        a = sorted(map(tuple, ivfpq_tune_nprobe(
            idx.repartition(3), emb.repartition(5), "vec_id", "v", cents,
            k=5, n_probes=(1, 4), n_queries=2,
        ).collect()))
        b = sorted(map(tuple, ivfpq_tune_nprobe(
            idx.repartition(7), emb.repartition(2), "vec_id", "v", cents,
            k=5, n_probes=(1, 4), n_queries=2,
        ).collect()))
        assert a == b

    def test_adc_recall_opt_in(self, spark):
        """With codebooks passed, the tuner additionally SERVES each
        (query, n_probe) pair through ivfpq_topk: adc_recall is
        bounded by [0, 1], present for every row, and never exceeds
        what full probing can serve; without codebooks the adc columns
        are NULL (the cheap routing-only report)."""
        from dbldatagen_spark.functions import (
            ivfpq_build, ivfpq_tune_nprobe,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        idx, cents, cb = ivfpq_build(
            emb, "vec_id", "v", n_cells=4, m=8, k=16,
            coarse_max_iter=3, pq_max_iter=3,
        )
        idx = idx.cache()
        try:
            rep = ivfpq_tune_nprobe(
                idx, emb, "vec_id", "v", cents, k=5,
                n_probes=(1, 4), n_queries=2, codebooks=cb,
            ).collect()
        finally:
            idx.unpersist()
        assert len(rep) == 4
        for r in rep:
            assert r["adc_n_hits"] is not None
            assert 0.0 <= r["adc_recall"] <= 1.0
            # serving cannot beat routing: a neighbor outside the
            # probed cells can never appear in the served top-k
            assert r["adc_recall"] <= r["recall"] + 1e-9
        # routing-only report keeps the schema with NULL adc columns
        cheap = ivfpq_tune_nprobe(
            idx, emb, "vec_id", "v", cents, k=5, n_probes=(1,),
            n_queries=1,
        ).collect()
        assert cheap[0]["adc_n_hits"] is None
        assert cheap[0]["adc_recall"] is None

    def test_validation(self, spark, built):
        from dbldatagen_spark.functions import ivfpq_tune_nprobe

        emb, idx, cents = built
        with pytest.raises(ValueError, match="n_probe"):
            ivfpq_tune_nprobe(
                idx, emb, "vec_id", "v", cents, n_probes=(0, 2)
            )
        with pytest.raises(ValueError, match="n_probe"):
            ivfpq_tune_nprobe(
                idx, emb, "vec_id", "v", cents, n_probes=(1, 99)
            )
        with pytest.raises(ValueError, match="non-empty"):
            ivfpq_tune_nprobe(
                idx, emb, "vec_id", "v", cents, n_probes=()
            )
        with pytest.raises(ValueError, match="k must be"):
            ivfpq_tune_nprobe(
                idx, emb, "vec_id", "v", cents, k=0
            )

    def test_adc_keeps_exact_cached_for_returned_frame(self, spark):
        """The ADC arm persists the exact top-k frame for BOTH its
        driver-side collect AND the returned frame's with_cell branch;
        unpersisting before the caller's action would recompute the
        exact-top-k corpus scan at action time."""
        from dbldatagen_spark.functions import (
            ivfpq_build, ivfpq_tune_nprobe,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        idx, cents, cb = ivfpq_build(
            emb, "vec_id", "v", n_cells=4, m=8, k=16,
            coarse_max_iter=3, pq_max_iter=3,
        )
        spark.catalog.clearCache()
        rep = ivfpq_tune_nprobe(
            idx, emb, "vec_id", "v", cents, k=5,
            n_probes=(1, 4), n_queries=2, codebooks=cb,
        )
        try:
            # exact was materialized by the adc loop and must STILL
            # hold storage blocks when the tuner returns
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            assert len(infos) > 0
            rows = rep.collect()
            assert len(rows) == 4
            assert all(r["adc_n_hits"] is not None for r in rows)
        finally:
            spark.catalog.clearCache()


class TestLengthBucketBatches:
    def _counts(self, spark):
        rows = [(1, 10), (2, 30), (3, 33), (4, 64), (5, 70), (6, 200),
                (7, None), (8, -3), (9, 0)]
        return spark.createDataFrame(rows, "id long, t int")

    def test_routing_caps_and_overflow(self, spark):
        from dbldatagen_spark.functions import length_bucket_batches

        out = {r["id"]: r for r in length_bucket_batches(
            self._counts(spark), "id", "t",
            bucket_boundaries=(32, 64), batch_tokens=128,
        ).collect()}
        # smallest bucket whose cap holds the doc
        assert (out[1]["bucket"], out[1]["bucket_cap"]) == (0, 32)
        assert (out[2]["bucket"], out[2]["bucket_cap"]) == (0, 32)
        assert (out[3]["bucket"], out[3]["bucket_cap"]) == (1, 64)
        assert (out[4]["bucket"], out[4]["bucket_cap"]) == (1, 64)
        assert (out[9]["bucket"], out[9]["bucket_cap"]) == (0, 32)
        # overflow: own batch, padded to itself
        assert (out[5]["bucket"], out[5]["bucket_cap"]) == (2, 70)
        assert (out[6]["bucket"], out[6]["bucket_cap"]) == (2, 200)
        assert out[5]["pad_tokens"] == 0 and out[6]["pad_tokens"] == 0
        assert out[5]["pos_in_batch"] == 0 and out[6]["pos_in_batch"] == 0
        # pad arithmetic
        assert out[1]["pad_tokens"] == 22 and out[4]["pad_tokens"] == 0
        # invalid counts: retained with NULL assignment
        for bad in (7, 8):
            assert out[bad]["bucket"] is None
            assert out[bad]["batch_index"] is None
            assert out[bad]["pad_tokens"] is None
        assert len(out) == 9

    def test_batch_sizes_respected(self, spark):
        from dbldatagen_spark.functions import length_bucket_batches

        df = spark.createDataFrame(
            [(i, 20 + (i % 10)) for i in range(300)], "id long, t int"
        )
        out = length_bucket_batches(
            df, "id", "t", bucket_boundaries=(32,), batch_tokens=160,
            num_shards=3,
        )
        # cap 32 -> batch_size floor(160/32) = 5
        per = (
            out.groupBy("bucket", "shard", "batch_index")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.max("pos_in_batch").alias("mx"),
                 F.min("pos_in_batch").alias("mn"))
            .collect()
        )
        assert all(r["n"] <= 5 and r["mx"] == r["n"] - 1 and r["mn"] == 0
                   for r in per)
        # only the LAST batch of each (bucket, shard) may be partial
        for (b, s) in {(r["bucket"], r["shard"]) for r in per}:
            sizes = sorted(
                (r["batch_index"], r["n"]) for r in per
                if r["bucket"] == b and r["shard"] == s
            )
            assert all(n == 5 for _, n in sizes[:-1])

    def test_deterministic_across_partitioning_and_modes(self, spark):
        from dbldatagen_spark.functions import length_bucket_batches

        df = spark.createDataFrame(
            [(i, 10 + (i * 7) % 90) for i in range(200)], "id long, t int"
        )
        kw = dict(bucket_boundaries=(32, 64, 96), batch_tokens=256)
        a = sorted(map(tuple, length_bucket_batches(
            df.repartition(3), "id", "t", **kw).collect()))
        b = sorted(map(tuple, length_bucket_batches(
            df.repartition(11), "id", "t", **kw).collect()))
        assert a == b
        # xxhash64 mode also runs and is internally consistent
        x = length_bucket_batches(
            df, "id", "t", hash_mode="xxhash64", **kw)
        assert x.count() == 200

    def test_validation(self, spark):
        from dbldatagen_spark.functions import length_bucket_batches

        df = self._counts(spark)
        with pytest.raises(ValueError, match="non-empty"):
            length_bucket_batches(
                df, "id", "t", bucket_boundaries=(), batch_tokens=10)
        with pytest.raises(ValueError, match="ascending"):
            length_bucket_batches(
                df, "id", "t", bucket_boundaries=(64, 32), batch_tokens=10)
        with pytest.raises(ValueError, match="batch_tokens"):
            length_bucket_batches(
                df, "id", "t", bucket_boundaries=(32,), batch_tokens=0)
        with pytest.raises(ValueError, match="num_shards"):
            length_bucket_batches(
                df, "id", "t", bucket_boundaries=(32,), batch_tokens=10,
                num_shards=0)

    def test_plan_integer_div_and_invalid_rows_skip_window(self, spark):
        from dbldatagen_spark.functions import length_bucket_batches

        out = length_bucket_batches(
            self._counts(spark), "id", "t",
            bucket_boundaries=(32, 64), batch_tokens=128,
        )
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        # batch_index is integral 'div', matching pos_in_batch and the
        # oracle — double division drifts once (_rn - 1) leaves the
        # exact-integer range of a double
        assert " div " in plan
        assert "as double) /" not in plan
        # invalid rows (NULL bucket) are filtered out BELOW the
        # row_number window and unioned back — they never collect in
        # one unsplittable (NULL, NULL) window partition.  Catalyst
        # pushes the bucket-validity filter all the way to the source
        # predicate (isnotnull(t) AND t >= 0), so assert the split
        # shape: a Union whose single row_number branch is filtered
        assert "Union" in plan
        assert plan.count("row_number") == 1
        assert "(t#" in plan and ">= 0" in plan


class TestPagerank:
    EDGES = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
             ("a", "c"), ("d", "a")]

    def _py_replay(self, iterations):
        scale, dp = 10**12, 850_000
        n = 4
        u = {x: scale // n for x in "abcd"}
        base = (scale // n) * (1_000_000 - dp) // 1_000_000
        deg = {"a": 2, "b": 2, "c": 1, "d": 1}
        for _ in range(iterations):
            sh = {s: (u[s] * dp) // 1_000_000 // deg[s] for s in deg}
            nu = {x: base for x in "abcd"}
            for s, t in self.EDGES:
                nu[t] += sh[s]
            u = nu
        return u

    def test_bit_exact_vs_independent_replay(self, spark):
        from dbldatagen_spark.functions import pagerank

        edges = spark.createDataFrame(self.EDGES, "s string, d string")
        got = {r["node"]: r["rank_units"] for r in pagerank(
            edges, "s", "d", iterations=7).collect()}
        assert got == self._py_replay(7)

    def test_partition_stability_and_dedup(self, spark):
        from dbldatagen_spark.functions import pagerank

        # parallel edges + NULLs collapse/drop before ranking
        noisy = self.EDGES * 3 + [(None, "a"), ("a", None)]
        edges = spark.createDataFrame(noisy, "s string, d string")
        a = sorted(map(tuple, pagerank(
            edges.repartition(2), "s", "d", iterations=5).collect()))
        b = sorted(map(tuple, pagerank(
            edges.repartition(9), "s", "d", iterations=5).collect()))
        assert a == b
        assert {r[0] for r in a} == {"a", "b", "c", "d"}
        assert {r[1] for r in a} == set(self._py_replay(5).values())

    def test_dangling_and_hub_shape(self, spark):
        from dbldatagen_spark.functions import pagerank

        edges = spark.createDataFrame(self.EDGES, "s string, d string")
        got = {r["node"]: r["rank"] for r in pagerank(
            edges, "s", "d", iterations=20).collect()}
        # d dangles with no inbound: exactly the base term
        assert abs(got["d"] - 0.0375) < 1e-9
        # a is the hub: highest rank
        assert got["a"] == max(got.values())

    def test_validation(self, spark):
        from dbldatagen_spark.functions import pagerank

        edges = spark.createDataFrame(self.EDGES, "s string, d string")
        with pytest.raises(ValueError, match="damping_ppm"):
            pagerank(edges, "s", "d", damping_ppm=2_000_000)
        with pytest.raises(ValueError, match="iterations"):
            pagerank(edges, "s", "d", iterations=0)
        with pytest.raises(ValueError, match="scale"):
            pagerank(edges, "s", "d", scale=0)
        with pytest.raises(ValueError, match="int64 headroom"):
            pagerank(edges, "s", "d", scale=10**13)

    def test_checkpoint_dir_cleared_when_none_before(self, spark, tmp_path):
        from dbldatagen_spark.functions import pagerank

        # when the session had NO checkpoint dir, the override must be
        # cleared on return — not left as a session-level side effect
        sc = spark.sparkContext
        sc._jsc.sc().setCheckpointDir(None)
        assert not sc._jsc.sc().getCheckpointDir().isDefined()
        edges = spark.createDataFrame(self.EDGES, "s string, d string")
        pagerank(
            edges, "s", "d", iterations=2,
            checkpoint_dir=str(tmp_path / "pr"),
        ).collect()
        assert not sc._jsc.sc().getCheckpointDir().isDefined()

    def test_checkpoint_dir_restored_when_set_before(self, spark, tmp_path):
        from dbldatagen_spark.functions import pagerank

        sc = spark.sparkContext
        sc.setCheckpointDir(str(tmp_path / "prior"))
        try:
            edges = spark.createDataFrame(self.EDGES, "s string, d string")
            pagerank(
                edges, "s", "d", iterations=2,
                checkpoint_dir=str(tmp_path / "other"),
            ).collect()
            after = sc._jsc.sc().getCheckpointDir()
            assert after.isDefined()
            assert "prior" in after.get() and "other" not in after.get()
        finally:
            sc._jsc.sc().setCheckpointDir(None)


class TestPagerankWeighted:
    def test_weighted_bit_exact_vs_replay(self, spark):
        from dbldatagen_spark.functions import pagerank

        E = [("a", "b", 3), ("a", "c", 1), ("b", "a", 2), ("c", "a", 5),
             ("c", "b", 5), ("a", "b", 2)]  # parallel a->b sums to 5
        edges = spark.createDataFrame(E, "s string, d string, w long")
        got = {r["node"]: r["rank_units"] for r in pagerank(
            edges, "s", "d", weight_col="w", iterations=6).collect()}

        scale, dp = 10**12, 850_000
        W = {"a": 6, "b": 2, "c": 10}
        agg = {("a", "b"): 5, ("a", "c"): 1, ("b", "a"): 2,
               ("c", "a"): 5, ("c", "b"): 5}
        n = 3
        u = {x: scale // n for x in "abc"}
        base = (scale // n) * (1_000_000 - dp) // 1_000_000
        for _ in range(6):
            nu = {x: base for x in "abc"}
            for (s, t), w in agg.items():
                damped = (u[s] * dp) // 1_000_000
                nu[t] += (damped // W[s]) * w + ((damped % W[s]) * w) // W[s]
            u = nu
        assert got == u

    def test_uniform_weights_match_unweighted(self, spark):
        from dbldatagen_spark.functions import pagerank

        E = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"), ("a", "c")]
        ew = spark.createDataFrame(
            [(s, d, 7) for s, d in E], "s string, d string, w long"
        )
        eu = spark.createDataFrame(E, "s string, d string")
        # identical per-source weight RATIOS -> identical fixed-point
        # shares (floor(damped * w / (k*w)) == floor(damped / k))
        a = sorted(map(tuple, pagerank(
            eu, "s", "d", iterations=8).collect()))
        b = sorted(map(tuple, pagerank(
            ew, "s", "d", weight_col="w", iterations=8).collect()))
        assert a == b

    def test_nonpositive_weights_dropped_and_overflow_guard(self, spark):
        from dbldatagen_spark.functions import pagerank

        edges = spark.createDataFrame(
            [("a", "b", 1), ("a", "c", 0), ("a", "d", -5), ("b", "a", None)],
            "s string, d string, w long",
        )
        out = {r["node"]: r["rank"] for r in pagerank(
            edges, "s", "d", weight_col="w", iterations=3).collect()}
        # only a->b survives: nodes {a, b}, not c/d (their edges dropped)
        assert set(out) == {"a", "b"}
        big = spark.createDataFrame(
            [("a", "b", 2**40), ("a", "c", 2**40)],
            "s string, d string, w long",
        )
        # r16: the guard rides iteration 1's own job as an in-plan
        # raise_error (no dedicated pre-pass aggregate job); the loop
        # is eager via the checkpoint, so it still surfaces from the
        # constructor — as Spark's runtime-exception type now
        with pytest.raises(SparkRuntimeException, match="headroom"):
            pagerank(big, "s", "d", weight_col="w", iterations=1)


class TestHostAuthority:
    LINKS = [
        # page-level links; a.com gets www/case/scheme/port noise that
        # canonicalization must collapse into ONE host
        ("HTTP://WWW.A.com/x?utm_source=1", "https://b.com/y"),
        ("https://a.com:443/z", "https://b.com/y2"),
        ("https://A.COM./w", "http://b.com:80/y3"),
        ("https://b.com/p", "http://c.com/q"),
        ("https://c.com/r", "https://a.com/s"),
        ("https://a.com/self", "https://www.a.com/self2"),  # self-link
        ("not a url at all", "https://b.com/oops"),         # bad src
        (None, "https://b.com/null"),
    ]

    def _py_replay(self, iterations=3):
        # host edges after canonicalization + self-link drop:
        # a->b weight 3, b->c 1, c->a 1
        agg = {("a.com", "b.com"): 3, ("b.com", "c.com"): 1,
               ("c.com", "a.com"): 1}
        W = {"a.com": 3, "b.com": 1, "c.com": 1}
        scale, dp = 10**12, 850_000
        nodes = ["a.com", "b.com", "c.com"]
        u = {x: scale // 3 for x in nodes}
        base = (scale // 3) * (1_000_000 - dp) // 1_000_000
        for _ in range(iterations):
            nu = {x: base for x in nodes}
            for (s, t), w in agg.items():
                damped = (u[s] * dp) // 1_000_000
                nu[t] += (damped // W[s]) * w + ((damped % W[s]) * w) // W[s]
            u = nu
        return u

    def test_weighted_host_ranks_bit_exact(self, spark):
        from dbldatagen_spark.functions import host_authority

        links = spark.createDataFrame(self.LINKS, "su string, du string")
        got = {r["host"]: r["rank_units"] for r in host_authority(
            links, "su", "du", iterations=3).collect()}
        assert got == self._py_replay(3)

    def test_self_links_and_level_domain(self, spark):
        from dbldatagen_spark.functions import host_authority

        links = spark.createDataFrame(
            [("https://blog.shop.co.uk/a", "https://shop.co.uk/b"),
             ("https://shop.co.uk/c", "https://other.com/d")],
            "su string, du string",
        )
        # host level: blog.shop.co.uk -> shop.co.uk is a real edge
        hosts = {r["host"] for r in host_authority(
            links, "su", "du", iterations=1).collect()}
        assert hosts == {"blog.shop.co.uk", "shop.co.uk", "other.com"}
        # domain level: both collapse into shop.co.uk (PSL two-level
        # suffix), so the intra-domain link drops as a self-link
        dom = {r["domain"] for r in host_authority(
            links, "su", "du", level="domain", iterations=1).collect()}
        assert dom == {"shop.co.uk", "other.com"}
        # keep_self_links retains the a.com self vote
        selfy = spark.createDataFrame(
            [("https://a.com/x", "https://www.a.com/y"),
             ("https://a.com/z", "https://b.com/w")],
            "su string, du string",
        )
        withself = {r["host"] for r in host_authority(
            selfy, "su", "du", keep_self_links=True, iterations=1
        ).collect()}
        assert withself == {"a.com", "b.com"}

    def test_domain_level_suffix_list_override(self, spark):
        from dbldatagen_spark.functions import host_authority

        links = spark.createDataFrame(
            [("https://blog.shop.com.pl/a", "https://shop.com.pl/b"),
             ("https://shop.com.pl/c", "https://other.com.pl/d")],
            "su string, du string",
        )
        # default subset lacks com.pl: every .com.pl host merges into
        # the pseudo-registrant 'com.pl', so the graph degenerates to
        # self-links and drops empty
        dom0 = {r["domain"] for r in host_authority(
            links, "su", "du", level="domain", iterations=1).collect()}
        assert dom0 == set()
        # a PSL snapshot separates the registrants: the intra-domain
        # link drops, the cross-registrant link survives
        dom1 = {r["domain"] for r in host_authority(
            links, "su", "du", level="domain", iterations=1,
            suffix_list=["com.pl"]).collect()}
        assert dom1 == {"shop.com.pl", "other.com.pl"}

    def test_weight_col_and_partition_stability(self, spark):
        from dbldatagen_spark.functions import host_authority

        links = spark.createDataFrame(
            [("https://a.com/1", "https://b.com/1", 5),
             ("https://a.com/2", "https://b.com/2", 3),
             ("https://b.com/3", "https://a.com/3", 2),
             ("https://a.com/4", "https://c.com/4", 0)],  # dropped
            "su string, du string, w long",
        )
        a = sorted(map(tuple, host_authority(
            links.repartition(2), "su", "du", weight_col="w",
            iterations=4).collect()))
        b = sorted(map(tuple, host_authority(
            links.repartition(7), "su", "du", weight_col="w",
            iterations=4).collect()))
        assert a == b
        assert {r[0] for r in a} == {"a.com", "b.com"}

    def test_validation(self, spark):
        from dbldatagen_spark.functions import host_authority

        links = spark.createDataFrame(
            [("https://a.com/1", "https://b.com/1")], "su string, du string"
        )
        with pytest.raises(ValueError, match="level"):
            host_authority(links, "su", "du", level="page")


class TestAnchorTextProfile:
    LINKS = [
        # 3 links to b.com from a.com, two anchors; "  Example\tSite "
        # and "example site" must collapse to ONE normalized anchor
        ("https://a.com/1", "https://b.com/x", "  Example\tSite "),
        ("https://a.com/2", "https://WWW.B.com/y", "example site"),
        ("https://a.com/3", "https://b.com:80/z", "B Portal"),
        # c.com also links b.com with the tied-count anchor "b portal"
        ("https://c.com/1", "https://b.com/w", "b portal"),
        # tie at 2-2 between "example site" and "b portal":
        # lexicographic min wins -> "b portal"
        ("https://c.com/2", "https://a.com/h", "A Home"),
        ("https://a.com/self", "https://a.com/s", "self"),   # self-link
        ("https://d.com/1", "https://b.com/e", "   "),       # empty anchor
        ("bad url", "https://b.com/f", "broken src"),        # NULL src host
        ("https://e.com/1", None, "no dst"),                 # NULL dst
    ]

    def _df(self, spark):
        return spark.createDataFrame(
            self.LINKS, "su string, du string, a string"
        )

    def test_profile_rows(self, spark):
        from dbldatagen_spark.functions import anchor_text_profile

        rows = {r["host"]: r for r in anchor_text_profile(
            self._df(spark), "su", "du", "a").collect()}
        assert set(rows) == {"a.com", "b.com"}
        b = rows["b.com"]
        assert b["in_links"] == 4
        assert b["referring_hosts"] == 2      # a.com, c.com
        assert b["unique_anchors"] == 2       # "example site", "b portal"
        assert b["top_anchor"] == "b portal"  # 2-2 tie, lexicographic min
        assert b["top_anchor_links"] == 2
        a = rows["a.com"]
        assert (a["in_links"], a["referring_hosts"],
                a["unique_anchors"]) == (1, 1, 1)
        assert (a["top_anchor"], a["top_anchor_links"]) == ("a home", 1)

    def test_self_links_and_min_links(self, spark):
        from dbldatagen_spark.functions import anchor_text_profile

        kept = {r["host"]: r for r in anchor_text_profile(
            self._df(spark), "su", "du", "a", keep_self_links=True
        ).collect()}
        assert kept["a.com"]["in_links"] == 2  # self-link now counts
        top = anchor_text_profile(
            self._df(spark), "su", "du", "a", min_links=2
        ).collect()
        assert [r["host"] for r in top] == ["b.com"]
        with pytest.raises(ValueError, match="min_links"):
            anchor_text_profile(self._df(spark), "su", "du", "a",
                                min_links=0)

    def test_partition_stability(self, spark):
        from dbldatagen_spark.functions import anchor_text_profile

        a = sorted(map(tuple, anchor_text_profile(
            self._df(spark).repartition(2), "su", "du", "a").collect()))
        b = sorted(map(tuple, anchor_text_profile(
            self._df(spark).repartition(7), "su", "du", "a").collect()))
        assert a == b

    def test_edge_whitespace_normalization(self, spark):
        # F.trim strips only spaces: a trailing tab must not survive
        # the collapse as a trailing space (splitting counts), and an
        # all-tab anchor must drop like a blank one
        from dbldatagen_spark.functions import anchor_text_profile

        df = spark.createDataFrame(
            [("https://a.com/1", "https://b.com/x", "shop blog\t"),
             ("https://c.com/1", "https://b.com/y", "shop blog"),
             ("https://d.com/1", "https://b.com/z", "\t")],
            "su string, du string, a string",
        )
        rows = anchor_text_profile(df, "su", "du", "a").collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r["in_links"], r["unique_anchors"]) == (2, 1)
        assert (r["top_anchor"], r["top_anchor_links"]) == ("shop blog", 2)

    def test_corpus_stage_compiles(self, spark):
        # the filter + both corpus-keyed aggregates must stay inside
        # compiled whole-stage codegen (no 64 KB fallback) and carry
        # no python-UDF nodes
        from dbldatagen_spark.functions import anchor_text_profile

        out = anchor_text_profile(self._df(spark), "su", "du", "a")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestCurriculumOrder:
    def _scores(self, spark):
        rows = [(i, float((i * 13) % 100)) for i in range(60)]
        rows += [(200, None), (201, float("nan"))]
        return spark.createDataFrame(rows, "id long, s double")

    def test_band_monotone_and_positions_dense(self, spark):
        from dbldatagen_spark.functions import curriculum_order

        out = curriculum_order(
            self._scores(spark), "id", "s",
            n_buckets=3, n_bins=100, num_shards=2,
        ).collect()
        scores = {i: float((i * 13) % 100) for i in range(60)}
        by_band = {}
        for r in out:
            if r["difficulty"] is not None:
                by_band.setdefault(r["difficulty"], []).append(
                    scores[r["id"]]
                )
        assert sorted(by_band) == [1, 2, 3]
        # quantile bands: every band-1 score <= every band-2 score, etc.
        assert max(by_band[1]) <= min(by_band[2])
        assert max(by_band[2]) <= min(by_band[3])
        # positions dense 0..k-1 within (band, shard)
        per = {}
        for r in out:
            if r["difficulty"] is not None:
                per.setdefault((r["difficulty"], r["shard"]), []).append(
                    r["position"]
                )
        for k, v in per.items():
            assert sorted(v) == list(range(len(v))), (k, v)
        # invalid scores: NULL assignments, rows retained
        nulls = {r["id"]: r for r in out if r["difficulty"] is None}
        assert set(nulls) == {200, 201}
        for r in nulls.values():
            assert r["shard"] is None and r["position"] is None

    def test_md5_shard_replay_and_flip(self, spark):
        from dbldatagen_spark.functions import curriculum_order
        import hashlib

        df = self._scores(spark)
        out = {r["id"]: r for r in curriculum_order(
            df, "id", "s", n_buckets=3, n_bins=100, num_shards=4,
            seed=7,
        ).collect()}
        for i in range(60):
            h = hashlib.md5(f"7-{i}".encode()).hexdigest()
            assert out[i]["shard"] == int(h[:15], 16) % 4
        hi = {r["id"]: r["difficulty"] for r in curriculum_order(
            df, "id", "s", n_buckets=3, n_bins=100, num_shards=4,
            seed=7, easy_high=True,
        ).collect()}
        for i in range(60):
            assert hi[i] == 4 - out[i]["difficulty"]

    def test_partition_stability_and_plan_shape(self, spark):
        from dbldatagen_spark.functions import curriculum_order

        df = self._scores(spark)
        kw = dict(n_buckets=4, n_bins=64, num_shards=3)
        a = sorted(map(tuple, curriculum_order(
            df.repartition(3), "id", "s", **kw).collect()), key=str)
        b = sorted(map(tuple, curriculum_order(
            df.repartition(9), "id", "s", **kw).collect()), key=str)
        assert a == b
        # skew discipline at birth: the position window runs over
        # valid rows only (Union with the NULL-band branch), never
        # over one pooled NULL partition
        plan = curriculum_order(
            df, "id", "s", **kw
        )._jdf.queryExecution().optimizedPlan().toString()
        assert "Union" in plan
        assert plan.count("row_number") == 1

    def test_cache_knob_and_stateless_mode(self, spark):
        from dbldatagen_spark.functions import curriculum_order

        df = self._scores(spark)
        spark.catalog.clearCache()

        def _storage_ids():
            # relative snapshots, not absolute emptiness: the shared
            # session may hold localCheckpoint RDDs from earlier tests
            # (pagerank's per-iteration checkpoints linger until the
            # ContextCleaner GCs them) that clearCache cannot remove
            return {
                i.id()
                for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            }

        base = _storage_ids()
        cm = spark._jsparkSession.sharedState().cacheManager()
        cache_empty_before = cm.isEmpty()
        try:
            cached = curriculum_order(
                df, "id", "s", n_buckets=3, n_bins=32, num_shards=2
            )
            # eager localCheckpoint: the shared bucketed frame is
            # materialized at call time, and both the valid-branch
            # window and the invalid branch read its blocks
            assert _storage_ids() - base
            # ...but NOTHING enters the session cache registry — the
            # round-13 leak was a persist() entry per call that only
            # an explicit unpersist/clearCache could drain
            if cache_empty_before:
                assert cm.isEmpty()
            a = sorted(map(tuple, cached.collect()), key=str)
            mid = _storage_ids()
            plain = curriculum_order(
                df, "id", "s", n_buckets=3, n_bins=32, num_shards=2,
                cache=False,
            )
            b = sorted(map(tuple, plain.collect()), key=str)
            assert a == b
            # stateless mode left no NEW storage behind (checkpoint
            # blocks from the cached call may linger until GC, hence
            # the mid snapshot)
            assert _storage_ids() - mid == set()
        finally:
            spark.catalog.clearCache()


    def test_derived_num_shards_default(self, spark):
        # num_shards=None derives max(16, 4 * defaultParallelism):
        # the per-(band, shard) sort-task sizing rule — the pinned
        # 16 was a local-test constant presented as a scale default
        from dbldatagen_spark.functions import curriculum_order
        import hashlib

        expected = max(
            16, 4 * spark.sparkContext.defaultParallelism
        )
        out = {r["id"]: r for r in curriculum_order(
            self._scores(spark), "id", "s", n_buckets=3, n_bins=100,
        ).collect()}
        for i in range(60):
            h = hashlib.md5(f"42-{i}".encode()).hexdigest()
            assert out[i]["shard"] == int(h[:15], 16) % expected

    def test_validation(self, spark):
        from dbldatagen_spark.functions import curriculum_order

        df = self._scores(spark)
        with pytest.raises(ValueError, match="num_shards"):
            curriculum_order(df, "id", "s", num_shards=0)
        with pytest.raises(ValueError, match="already exist"):
            curriculum_order(
                df.withColumn("position", F.lit(1)), "id", "s"
            )


class TestDistributionMatchedSample:
    def _frames(self, spark):
        # corpus: 80 short (score 10) + 80 long (score 90)
        # reference: 30 short + 10 long -> long docs downsample to
        # 1/3 the short docs' rate
        corpus = spark.createDataFrame(
            [(i, 10.0) for i in range(80)]
            + [(i, 90.0) for i in range(80, 160)]
            + [(900, None), (901, float("nan")), (902, float("inf"))],
            "id long, s double",
        )
        ref = spark.createDataFrame(
            [(i, 10.0) for i in range(30)] + [(i, 90.0) for i in range(10)],
            "rid long, s double",
        )
        return corpus, ref

    def test_rates_exact_integer_contract(self, spark):
        from dbldatagen_spark.functions import distribution_matched_sample

        corpus, ref = self._frames(spark)
        out = distribution_matched_sample(
            corpus, "id", "s", ref, n_bins=4, seed=7
        ).collect()
        rows = {r["id"]: r for r in out}
        # shared range [10, 90]; short -> bin 0, long -> bin 3
        # short: c=80/160, r=30/40 -> ratio (30*160)/(40*80) = 1.5 -> cap 1e6
        # long:  c=80/160, r=10/40 -> (10*160)/(40*80) = 0.5 -> 500000
        assert rows[0]["match_bin"] == 0
        assert rows[0]["match_rate_ppm"] == 1_000_000
        assert rows[0]["match_keep"] is True  # rate 1e6 keeps every bucket
        assert rows[80]["match_bin"] == 3
        assert rows[80]["match_rate_ppm"] == 500_000
        # invalid scores: NULL bin, rate 0, never kept
        for bad in (900, 901, 902):
            assert rows[bad]["match_bin"] is None
            assert rows[bad]["match_rate_ppm"] == 0
            assert rows[bad]["match_keep"] is False
        # every short doc keeps; long docs keep iff hash bucket < 500000
        assert all(rows[i]["match_keep"] for i in range(80))
        kept_long = sum(1 for i in range(80, 160) if rows[i]["match_keep"])
        assert 0 < kept_long < 80

    def test_scale_ppm_and_zero_mass_bins(self, spark):
        from dbldatagen_spark.functions import distribution_matched_sample

        corpus, ref = self._frames(spark)
        # halving scale halves every rate exactly
        out = {r["id"]: r for r in distribution_matched_sample(
            corpus, "id", "s", ref, n_bins=4, scale_ppm=500_000
        ).collect()}
        assert out[0]["match_rate_ppm"] == 750_000
        assert out[80]["match_rate_ppm"] == 250_000
        # reference with no long-doc mass -> long bin rate 0
        ref_short = ref.where(F.col("s") < 50)
        out2 = {r["id"]: r for r in distribution_matched_sample(
            corpus, "id", "s", ref_short, n_bins=4
        ).collect()}
        assert out2[80]["match_rate_ppm"] == 0
        assert out2[80]["match_keep"] is False

    def test_partition_stability_and_md5_mode(self, spark):
        from dbldatagen_spark.functions import distribution_matched_sample

        corpus, ref = self._frames(spark)
        cols = ["id", "match_bin", "match_rate_ppm", "match_keep"]
        a = sorted(map(tuple, distribution_matched_sample(
            corpus.repartition(2), "id", "s", ref, n_bins=4,
            hash_mode="md5").select(*cols).collect()))
        b = sorted(map(tuple, distribution_matched_sample(
            corpus.repartition(9), "id", "s", ref, n_bins=4,
            hash_mode="md5").select(*cols).collect()))
        assert a == b

    def test_validation(self, spark):
        from dbldatagen_spark.functions import distribution_matched_sample

        corpus, ref = self._frames(spark)
        with pytest.raises(ValueError, match="n_bins"):
            distribution_matched_sample(corpus, "id", "s", ref, n_bins=0)
        with pytest.raises(ValueError, match="scale_ppm"):
            distribution_matched_sample(corpus, "id", "s", ref,
                                        scale_ppm=0)
        with pytest.raises(ValueError, match="no column"):
            distribution_matched_sample(corpus, "id", "nope", ref)
        # id_col eagerly validated too: a missing id must raise
        # BEFORE the two histogram collect jobs, not as a late
        # AnalysisException on the flagging pass
        with pytest.raises(ValueError, match="no column 'nope_id'"):
            distribution_matched_sample(corpus, "nope_id", "s", ref)
        with pytest.raises(ValueError, match="already exist"):
            distribution_matched_sample(
                corpus.withColumn("match_keep", F.lit(True)),
                "id", "s", ref)
        with pytest.raises(ValueError, match="no valid"):
            distribution_matched_sample(
                corpus, "id", "s",
                ref.where(F.col("s") > 1000))


class TestCrossSnapshotNovelty:
    def _frames(self, spark):
        prior = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon"),
             (2, "alpha beta gamma six seven"),     # shares "alpha beta gamma"
             (3, "one two three four five")],
            ["doc_id", "text"],
        )
        cur = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon"),  # unchanged page
             (10, "wholly fresh page content right here"),
             (11, "alpha beta gamma new tail"),      # partial re-skin
             (12, "zz")],                            # < n words
            ["doc_id", "text"],
        )
        return cur, prior

    def test_seen_ratio_contract(self, spark):
        from dbldatagen_spark.functions import cross_snapshot_novelty

        cur, prior = self._frames(spark)
        rows = {r["doc_id"]: r for r in cross_snapshot_novelty(
            cur, prior, "doc_id", "text", n=3).collect()}
        # unchanged page: every gram present in the prior snapshot
        assert (rows[1]["n_grams"], rows[1]["n_seen"]) == (3, 3)
        assert rows[1]["seen_ratio"] == 1.0
        # fresh page: nothing seen before
        assert rows[10]["n_seen"] == 0 and rows[10]["seen_ratio"] == 0.0
        # re-skin: exactly the shared leading gram
        assert (rows[11]["n_grams"], rows[11]["n_seen"]) == (3, 1)
        assert rows[11]["seen_ratio"] == 1.0 / 3.0
        # short doc: zero grams, NULL ratio (never 0)
        assert (rows[12]["n_grams"], rows[12]["n_seen"]) == (0, 0)
        assert rows[12]["seen_ratio"] is None

    def test_prior_df_threshold(self, spark):
        from dbldatagen_spark.functions import cross_snapshot_novelty

        cur, prior = self._frames(spark)
        # threshold 2: only grams in >= 2 PRIOR docs count as seen —
        # "alpha beta gamma" (prior docs 1 and 2) survives, the rest
        # of doc 1's grams are single-prior-doc and stop counting
        rows = {r["doc_id"]: r for r in cross_snapshot_novelty(
            cur, prior, "doc_id", "text", n=3, prior_df_threshold=2
        ).collect()}
        assert (rows[1]["n_grams"], rows[1]["n_seen"]) == (3, 1)
        assert rows[11]["n_seen"] == 1

    def test_partition_stability_and_validation(self, spark):
        from dbldatagen_spark.functions import cross_snapshot_novelty

        cur, prior = self._frames(spark)
        a = sorted(map(tuple, cross_snapshot_novelty(
            cur.repartition(2), prior.repartition(3),
            "doc_id", "text", n=3).collect()))
        b = sorted(map(tuple, cross_snapshot_novelty(
            cur.repartition(7), prior.repartition(1),
            "doc_id", "text", n=3).collect()))
        assert a == b
        with pytest.raises(ValueError, match="n must"):
            cross_snapshot_novelty(cur, prior, "doc_id", "text", n=0)
        with pytest.raises(ValueError, match="prior_df_threshold"):
            cross_snapshot_novelty(
                cur, prior, "doc_id", "text", prior_df_threshold=0)


class TestFertilityTokenAllocation:
    MERGES = [("t", "h"), ("th", "e"), ("a", "n"), ("an", "d")]

    def _docs(self, spark):
        return spark.createDataFrame(
            [("en", "the then there and other another"),
             ("en", "on in an er re"),
             ("de", "und oder aber denn"),
             ("xx", None)],                      # NULL text group
            ["lang", "text"],
        )

    def test_allocation_replays_and_sums_exactly(self, spark):
        import math
        from dbldatagen_spark.functions import (
            fertility_token_allocation, tokenizer_fertility,
        )

        docs = self._docs(spark)
        out = {r["group"]: r for r in fertility_token_allocation(
            docs, "lang", "text", self.MERGES,
            alpha=0.5, target_tokens=1000,
        ).collect()}
        rep = {r["group"]: r for r in tokenizer_fertility(
            docs, "text", self.MERGES, group_col="lang").collect()}
        # raw mass = sqrt(n_words) * (n_tokens / n_words), folded in
        # group-key order — replay it independently in Python
        raw = {}
        for g, r in rep.items():
            nw, nt = r["n_words"], r["n_tokens"]
            raw[g] = (
                math.sqrt(nw) * (float(nt) / float(nw)) if nw > 0 else 0.0
            )
        tot = 0.0
        for g in sorted(raw):
            tot += raw[g]
        base, fracs = {}, {}
        for g in raw:
            share = 1000.0 * (raw[g] / tot)
            base[g] = math.floor(share)
            fracs[g] = share - base[g]
        rem = 1000 - sum(base.values())
        for g in sorted(fracs, key=lambda g: (-fracs[g], g))[:rem]:
            base[g] += 1
        for g in out:
            assert out[g]["target_tokens"] == base[g], g
            assert out[g]["weight"] == (raw[g] / tot)
            assert out[g]["fertility"] == rep[g]["tokens_per_word"]
        # exact budget; zero-word group allocates nothing
        assert sum(r["target_tokens"] for r in out.values()) == 1000
        assert out["xx"]["target_tokens"] == 0
        assert out["xx"]["fertility"] is None

    def test_equity_direction_and_validation(self, spark):
        # two groups with IDENTICAL word mass: the higher-fertility
        # group must receive MORE tokens (same words seen)
        from dbldatagen_spark.functions import fertility_token_allocation

        docs = spark.createDataFrame(
            # 'aa' encodes as 2 tokens/word under no applicable merge;
            # 'th' merges to 1 token/word
            [("hi", "aa aa aa aa"), ("lo", "th th th th")],
            ["lang", "text"],
        )
        out = {r["group"]: r for r in fertility_token_allocation(
            docs, "lang", "text", [("t", "h")],
            alpha=0.5, target_tokens=1000,
        ).collect()}
        assert out["hi"]["n_words"] == out["lo"]["n_words"]
        assert out["hi"]["fertility"] > out["lo"]["fertility"]
        assert out["hi"]["target_tokens"] > out["lo"]["target_tokens"]
        # per-word token opportunity equalizes: target/(words*fertility)
        # identical across groups up to the +-1 remainder unit
        hi = out["hi"]["target_tokens"] / out["hi"]["fertility"]
        lo = out["lo"]["target_tokens"] / out["lo"]["fertility"]
        assert abs(hi - lo) <= 2.0
        with pytest.raises(ValueError, match="alpha"):
            fertility_token_allocation(
                docs, "lang", "text", [], alpha=-1, target_tokens=10)
        with pytest.raises(ValueError, match="target_tokens"):
            fertility_token_allocation(
                docs, "lang", "text", [], target_tokens=-1)
        with pytest.raises(ValueError, match="collides"):
            fertility_token_allocation(
                docs.withColumnRenamed("lang", "weight"),
                "weight", "text", [], target_tokens=10)


class TestAuthorityWeightedSample:
    def _fixtures(self, spark):
        links = spark.createDataFrame(
            [("https://a.com/1", "https://b.com/2"),
             ("https://b.com/3", "https://c.com/4"),
             ("https://b.com/5", "https://c.com/6"),
             ("https://c.com/7", "https://a.com/8")],
            "su string, du string",
        )
        docs = spark.createDataFrame(
            [(i, f"https://{h}.com/d/{i}") for i, h in enumerate(
                ["a", "b", "c", "unranked", "a", "b", "c", "unranked"] * 5
            )] + [(1000, "::unparseable::")],
            "doc_id long, url string",
        )
        return links, docs

    def test_keep_rate_interpolation_exact(self, spark):
        import hashlib
        from dbldatagen_spark.functions import (
            authority_weighted_sample, host_authority,
        )

        links, docs = self._fixtures(spark)
        auth = host_authority(links, "su", "du", iterations=2)
        ranks = {r["host"]: r["rank_units"] for r in auth.collect()}
        mx = max(ranks.values())
        out = authority_weighted_sample(
            docs, "doc_id", "url", auth,
            base_ppm=200_000, max_ppm=900_000, seed=7,
        )
        rows = out.collect()
        assert len(rows) == docs.count()   # flags, never a filter
        for r in rows:
            host = r["auth_node"]
            ru = ranks.get(host)
            expect_ppm = (
                200_000 if ru is None
                else 200_000 + (700_000 * ru) // mx
            )
            assert r["auth_keep_ppm"] == expect_ppm, r
            assert r["auth_rank_units"] == ru
            h = hashlib.md5(f"7-{r['doc_id']}".encode()).hexdigest()
            bucket = int(h[:15], 16) % 1_000_000
            assert r["auth_keep"] == (bucket < expect_ppm), r
        # the best host keeps at exactly max_ppm
        best = [r for r in rows
                if r["auth_rank_units"] == mx][0]
        assert best["auth_keep_ppm"] == 900_000
        # unparseable URL -> NULL node, floor rate
        bad = [r for r in rows if r["doc_id"] == 1000][0]
        assert bad["auth_node"] is None
        assert bad["auth_keep_ppm"] == 200_000

    def test_domain_level_broadcast_plan_and_validation(self, spark):
        from dbldatagen_spark.functions import (
            authority_weighted_sample, host_authority,
        )

        links, docs = self._fixtures(spark)
        auth = host_authority(links, "su", "du", iterations=1)
        out = authority_weighted_sample(
            docs, "doc_id", "url", auth, broadcast_authority=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        # domain-level key collapse threads suffix_list through
        dlinks = spark.createDataFrame(
            [("https://x.shop.com.pl/1", "https://y.other.com.pl/2")],
            "su string, du string")
        dauth = host_authority(
            dlinks, "su", "du", level="domain", iterations=1,
            suffix_list=["com.pl"])
        ddocs = spark.createDataFrame(
            [(1, "https://z.shop.com.pl/d")], "doc_id long, url string")
        r = authority_weighted_sample(
            ddocs, "doc_id", "url", dauth, node_col="domain",
            level="domain", suffix_list=["com.pl"],
        ).collect()[0]
        assert r["auth_node"] == "shop.com.pl"
        assert r["auth_rank_units"] is not None
        with pytest.raises(ValueError, match="base_ppm"):
            authority_weighted_sample(
                docs, "doc_id", "url", auth, base_ppm=-1)
        with pytest.raises(ValueError, match="no column"):
            authority_weighted_sample(docs, "nope", "url", auth)
        with pytest.raises(ValueError, match="already exists"):
            authority_weighted_sample(
                docs.withColumn("auth_keep", F.lit(True)),
                "doc_id", "url", auth)
        # degenerate authority: floor rate everywhere, loudly documented
        empty = auth.where(F.lit(False))
        rows = authority_weighted_sample(
            docs, "doc_id", "url", empty, base_ppm=123_000).collect()
        assert all(r["auth_keep_ppm"] == 123_000 for r in rows)
        # duplicate node keys would fan the left join out (more output
        # rows than input — the flags-not-a-filter contract breaks):
        # rejected in the same one-row aggregate as max(rank), which
        # rides the plan since r16 — zero jobs at construction, the
        # raise surfaces at the action
        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup(None) or [])
        dup = authority_weighted_sample(
            docs, "doc_id", "url", auth.unionByName(auth))
        assert len(tracker.getJobIdsForGroup(None) or []) == before
        with pytest.raises(Exception, match="duplicate"):
            dup.collect()
        # the int64-headroom guard likewise raises only at the action
        huge = auth.select("host", F.lit(2**62).alias("rank_units"))
        over = authority_weighted_sample(
            docs, "doc_id", "url", huge, base_ppm=0)
        with pytest.raises(SparkRuntimeException, match="overflows int64"):
            over.collect()
        # ...but a NULL-keyed rank row is harmless (never joins) and
        # must NOT trip the uniqueness check
        with_null = auth.unionByName(
            auth.limit(1).select(
                F.lit(None).cast("string").alias("host"),
                F.lit(0).cast("long").alias("rank_units"),
                F.lit(0.0).alias("rank"),
            )
        )
        ok = authority_weighted_sample(
            docs, "doc_id", "url", with_null, base_ppm=200_000)
        assert ok.count() == docs.count()
        # domain level runs the PSL collapse over the DISTINCT host
        # set, never per corpus row: the plan carries a host-dedup
        # aggregate feeding a second (map-side) join, and the
        # suffix-array probe appears once — in the host-map subtree —
        # not inlined into the corpus projection
        plan2 = authority_weighted_sample(
            docs, "doc_id", "url", auth, level="domain",
        )._jdf.queryExecution().optimizedPlan().toString()
        assert ("Deduplicate" in plan2) or ("Aggregate" in plan2)
        assert plan2.count("Join") >= 2
        assert plan2.count("array_contains") == 1

    @pytest.mark.parametrize("level", ["host", "domain"])
    def test_duplicate_guard_survives_column_pruning(self, spark, level):
        """A consumer reading only passthrough columns still hits the
        duplicate-key guard: pruning the flag columns must not let the
        duplicate-keyed join fan rows out silently."""
        from dbldatagen_spark.functions import (
            authority_weighted_sample, host_authority,
        )

        links, docs = self._fixtures(spark)
        auth = host_authority(links, "su", "du", iterations=1)
        dup = authority_weighted_sample(
            docs, "doc_id", "url", auth.unionByName(auth), level=level)
        with pytest.raises(Exception, match="duplicate"):
            dup.select("doc_id", "url").collect()
        with pytest.raises(Exception, match="duplicate"):
            dup.count()

    def test_partition_stability(self, spark):
        from dbldatagen_spark.functions import (
            authority_weighted_sample, host_authority,
        )

        links, docs = self._fixtures(spark)
        auth = host_authority(links, "su", "du", iterations=2)
        cols = ["doc_id", "auth_node", "auth_rank_units",
                "auth_keep_ppm", "auth_keep"]
        a = sorted(map(tuple, authority_weighted_sample(
            docs.repartition(2), "doc_id", "url", auth,
        ).select(*cols).collect()))
        b = sorted(map(tuple, authority_weighted_sample(
            docs.repartition(7), "doc_id", "url", auth,
            broadcast_authority=False,
        ).select(*cols).collect()))
        assert a == b


class TestCalibrationReport:
    def _labeled(self, spark):
        # scores 0..99, positive iff score >= 60 (a well-behaved
        # classifier): top bins pure, bottom bins empty of positives
        return spark.createDataFrame(
            [(float(i), i >= 60) for i in range(100)]
            + [(float("nan"), True), (None, True), (10.0, None)],
            "score double, label boolean",
        )

    def test_counts_precision_cumulative(self, spark):
        from dbldatagen_spark.functions import calibration_report

        rows = calibration_report(
            self._labeled(spark), "score", "label", n_bins=5
        ).collect()
        assert [r["bin"] for r in rows] == [0, 1, 2, 3, 4]
        # invalid rows excluded: 100 valid
        assert sum(r["n"] for r in rows) == 100
        # bin width 99/5 = 19.8: bins 0-2 all negative, bin 3 mixed,
        # bin 4 all positive
        assert rows[0]["precision"] == 0.0
        assert rows[4]["precision"] == 1.0
        # cumulative-from-top: bin 0's cum covers everything
        assert rows[0]["cum_n"] == 100
        assert rows[0]["cum_pos"] == 40
        assert rows[4]["cum_n"] == rows[4]["n"]
        assert rows[4]["cum_precision"] == 1.0
        # cum_n strictly decreasing as the threshold rises
        cums = [r["cum_n"] for r in rows]
        assert cums == sorted(cums, reverse=True)
        # edges: one fixed form lo + (bin*span)/n_bins
        assert rows[0]["bin_lo"] == 0.0
        assert abs(rows[4]["bin_hi"] - 99.0) < 1e-9

    def test_pinned_range_clamps_and_empty_bins(self, spark):
        from dbldatagen_spark.functions import calibration_report

        df = spark.createDataFrame(
            [(5.0, True), (150.0, False), (-3.0, True)],
            "score double, label boolean",
        )
        rows = calibration_report(
            df, "score", "label", n_bins=4, lo=0.0, hi=100.0
        ).collect()
        # out-of-range scores clamp to the edge bins
        assert rows[0]["n"] == 2      # 5.0 and -3.0
        assert rows[3]["n"] == 1      # 150.0
        # empty interior bins appear with zero counts, NULL precision
        assert rows[1]["n"] == 0 and rows[1]["precision"] is None
        assert rows[1]["cum_n"] == 1  # gapless cumulative
        # a FAR outlier must clamp too — the double-space clamp runs
        # before floor/cast, so no ANSI cast overflow and no non-ANSI
        # wraparound into the WRONG edge bin
        far = spark.createDataFrame(
            [(3e8, True), (-1e300, False), (50.0, True)],
            "score double, label boolean",
        )
        fr = calibration_report(
            far, "score", "label", n_bins=4, lo=0.0, hi=100.0
        ).collect()
        assert fr[3]["n"] == 1 and fr[3]["n_pos"] == 1    # 3e8 -> top
        assert fr[0]["n"] == 1 and fr[0]["n_pos"] == 0    # -1e300 -> bottom
        assert fr[2]["n"] == 1                            # 50.0 in place

    def test_uncastable_labels_excluded(self, spark):
        # a non-NULL label that does not cast to boolean is excluded
        # like a NULL label — never silently counted as a negative
        from dbldatagen_spark.functions import calibration_report

        df = spark.createDataFrame(
            [(10.0, "yes"), (20.0, "maybe"), (30.0, "false"),
             (40.0, None)],
            "score string, label string",
        )
        rows = calibration_report(df, "score", "label", n_bins=2).collect()
        assert sum(r["n"] for r in rows) == 2       # 'maybe'/NULL out
        assert sum(r["n_pos"] for r in rows) == 1   # only 'yes'

    def test_stability_and_validation(self, spark):
        from dbldatagen_spark.functions import calibration_report

        df = self._labeled(spark)
        a = [tuple(r) for r in calibration_report(
            df.repartition(2), "score", "label", n_bins=6).collect()]
        b = [tuple(r) for r in calibration_report(
            df.repartition(7), "score", "label", n_bins=6).collect()]
        assert a == b
        with pytest.raises(ValueError, match="n_bins"):
            calibration_report(df, "score", "label", n_bins=0)
        with pytest.raises(ValueError, match="both lo and hi"):
            calibration_report(df, "score", "label", lo=0.0)
        with pytest.raises(ValueError, match="lo < hi"):
            calibration_report(df, "score", "label", lo=1.0, hi=1.0)
        with pytest.raises(ValueError, match="no column"):
            calibration_report(df, "nope", "label")
        # the no-valid-rows contract fires AT ACTION TIME now (r16:
        # the auto range rides the plan instead of an eager min/max
        # scan per call), wrapped in Spark's runtime-exception type
        empty = calibration_report(
            df.where(F.col("score").isNull()), "score", "label"
        )
        with pytest.raises(SparkRuntimeException, match="no valid"):
            empty.collect()
        # only the range-dependent edge columns carry the raise
        assert {r["n"] for r in empty.select("bin", "n").collect()} == {0}

    def test_auto_range_adds_no_job_until_action(self, spark):
        # range auto-detection must be fully lazy: constructing the
        # report runs ZERO Spark jobs (it used to run one eager
        # min/max scan of the labeled sample per call)
        from dbldatagen_spark.functions import calibration_report

        df = spark.createDataFrame(
            [(0.1, True), (0.9, False)], "score double, label boolean"
        )
        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup(None) or [])
        calibration_report(df, "score", "label", n_bins=4)
        after = len(tracker.getJobIdsForGroup(None) or [])
        assert after == before


class TestClusterAwareSplit:
    FRACS = {"train": 0.8, "val": 0.1, "test": 0.1}

    def _fixtures(self, spark):
        docs = spark.createDataFrame(
            [(i,) for i in range(200)], "doc_id long")
        # 3-chains: i ~ i+1000 ~ i+2000 for i in {0, 7, 14, ...} —
        # a and c never paired directly (transitivity must do it)
        m = [i for i in range(0, 200, 7)]
        corpus = spark.createDataFrame(
            [(i,) for i in range(200)]
            + [(i + 1000,) for i in m] + [(i + 2000,) for i in m],
            "doc_id long",
        )
        pairs = spark.createDataFrame(
            [(i, i + 1000) for i in m] + [(i + 1000, i + 2000) for i in m],
            "id_a long, id_b long",
        )
        return corpus, pairs

    def test_cluster_colocation_and_singleton_parity(self, spark):
        import hashlib
        from dbldatagen_spark.functions import (
            cluster_aware_split, split_assign,
        )

        corpus, pairs = self._fixtures(spark)
        out = {r["doc_id"]: r for r in cluster_aware_split(
            corpus, "doc_id", self.FRACS, pairs).collect()}
        # transitive co-location: all three chain members share the
        # representative AND the split
        for i in range(0, 200, 7):
            trio = [out[i], out[i + 1000], out[i + 2000]]
            assert {r["split_key"] for r in trio} == {i}
            assert len({r["split"] for r in trio}) == 1
        # singletons: exactly the plain split_assign label
        plain = {r["doc_id"]: r["split"] for r in split_assign(
            corpus, "doc_id", self.FRACS, hash_mode="md5").collect()}
        for i in range(200):
            if i % 7 != 0:
                assert out[i]["split_key"] == i
                assert out[i]["split"] == plain[i]
        # the representative's hash decides: replay one cluster by hand
        h = hashlib.md5(b"42-0").hexdigest()
        bkt = int(h[:15], 16) % 1_000_000
        expect = "train" if bkt < 800_000 else (
            "val" if bkt < 900_000 else "test")
        assert out[0]["split"] == expect

    def test_partition_stability_and_validation(self, spark):
        from dbldatagen_spark.functions import cluster_aware_split

        corpus, pairs = self._fixtures(spark)
        a = sorted(map(tuple, cluster_aware_split(
            corpus.repartition(3), "doc_id", self.FRACS,
            pairs.repartition(2)).collect()))
        b = sorted(map(tuple, cluster_aware_split(
            corpus.repartition(8), "doc_id", self.FRACS,
            pairs.repartition(5)).collect()))
        assert a == b
        with pytest.raises(ValueError, match="no column"):
            cluster_aware_split(corpus, "nope", self.FRACS, pairs)
        with pytest.raises(ValueError, match="already exists"):
            cluster_aware_split(
                corpus.withColumn("split", F.lit("x")),
                "doc_id", self.FRACS, pairs)
        with pytest.raises(ValueError, match="already exists"):
            cluster_aware_split(
                corpus.withColumn("_cas_v", F.lit(1)),
                "doc_id", self.FRACS, pairs)
        # eager: bad fractions/hash_mode raise BEFORE the component
        # propagation loop runs
        with pytest.raises(ValueError, match="fractions"):
            cluster_aware_split(corpus, "doc_id", {}, pairs)
        with pytest.raises(ValueError, match="hash_mode"):
            cluster_aware_split(
                corpus, "doc_id", self.FRACS, pairs, hash_mode="nope")

    def test_int_id_type_parity_under_xxhash64(self, spark):
        # a wider pairs id must not promote the key type: xxhash64 is
        # type-sensitive, and singletons must get EXACTLY the plain
        # split_assign label on df's own (int) id column
        from dbldatagen_spark.functions import (
            cluster_aware_split, split_assign,
        )

        corpus = spark.createDataFrame(
            [(i,) for i in range(50)], "doc_id int")
        pairs = spark.createDataFrame(
            [(0, 7), (7, 14)], "id_a long, id_b long")
        out = {r["doc_id"]: r for r in cluster_aware_split(
            corpus, "doc_id", self.FRACS, pairs, hash_mode="xxhash64",
        ).collect()}
        plain = {r["doc_id"]: r["split"] for r in split_assign(
            corpus, "doc_id", self.FRACS, hash_mode="xxhash64",
        ).collect()}
        for i in range(50):
            if i not in (0, 7, 14):
                assert out[i]["split"] == plain[i], i
        assert {out[i]["split"] for i in (0, 7, 14)} == {plain[0]}


class TestContaminationAwareSplit:
    def _frames(self, spark):
        docs = spark.createDataFrame(
            [(i, f"unique training document {i} body alpha beta gamma "
                 f"delta epsilon {i * 7}") for i in range(30)]
            + [(100, "the secret benchmark passage about rare quantum "
                     "turtles swimming backwards forever")],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(1, "q: what of rare quantum turtles swimming backwards "
                 "forever and ever?")],
            "bid long, btext string",
        )
        return docs, bench

    def test_quarantine_and_clean_match_split_assign(self, spark):
        from dbldatagen_spark.functions import (
            contamination_aware_split, split_assign,
        )

        docs, bench = self._frames(spark)
        fr = {"train": 0.8, "val": 0.1, "test": 0.1}
        out = {r["doc_id"]: r for r in contamination_aware_split(
            docs, "doc_id", "text", bench, fr,
            bench_text_col="btext", n=5, hash_mode="md5",
        ).collect()}
        plain = {r["doc_id"]: r["split"] for r in split_assign(
            docs, "doc_id", fr, hash_mode="md5"
        ).collect()}
        # leaked doc is quarantined whatever its provisional label
        assert out[100]["split"] == "quarantined"
        assert out[100]["n_shared_ngrams"] >= 1
        # clean docs keep their exact split_assign label, NULL count
        for i in range(30):
            assert out[i]["split"] == plain[i]
            assert out[i]["n_shared_ngrams"] is None
        # the auditable invariant: no contaminated id outside quarantine
        assert all(
            r["split"] == "quarantined"
            for r in out.values() if r["n_shared_ngrams"] is not None
        )

    def test_min_shared_threshold(self, spark):
        from dbldatagen_spark.functions import contamination_aware_split

        docs, bench = self._frames(spark)
        # doc 100 shares 3 distinct 5-grams; min_shared=4 clears it
        out = {r["doc_id"]: r["split"] for r in contamination_aware_split(
            docs, "doc_id", "text", bench,
            {"train": 1.0}, bench_text_col="btext", n=5, min_shared=4,
        ).collect()}
        assert out[100] == "train"

    def test_partition_stability(self, spark):
        from dbldatagen_spark.functions import contamination_aware_split

        docs, bench = self._frames(spark)
        fr = {"train": 0.5, "holdout": 0.5}
        a = sorted(map(tuple, contamination_aware_split(
            docs.repartition(3), "doc_id", "text", bench, fr,
            bench_text_col="btext", n=5,
        ).collect()), key=str)
        b = sorted(map(tuple, contamination_aware_split(
            docs.repartition(8), "doc_id", "text", bench, fr,
            bench_text_col="btext", n=5,
        ).collect()), key=str)
        assert a == b

    def test_validation(self, spark):
        from dbldatagen_spark.functions import contamination_aware_split

        docs, bench = self._frames(spark)
        with pytest.raises(ValueError, match="collides"):
            contamination_aware_split(
                docs, "doc_id", "text", bench,
                {"train": 0.5, "quarantined": 0.5},
                bench_text_col="btext",
            )
        with pytest.raises(ValueError, match="already exists"):
            contamination_aware_split(
                docs.withColumn("split", F.lit("x")), "doc_id", "text",
                bench, {"train": 1.0}, bench_text_col="btext",
            )


class TestTokenizerFertility:
    MERGES = [("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
              ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e")]

    def _corpus(self, spark):
        return spark.createDataFrame(
            [(1, "en", "the thin thread and the other"),
             (2, "en", "another band on the rim"),
             (3, "de", "die lange leine und der rand"),
             (4, "de", None)],
            "id long, lang string, text string",
        )

    def test_counts_match_independent_replay(self, spark):
        from dbldatagen_spark.functions import tokenizer_fertility
        import re

        out = {r["group"]: r for r in tokenizer_fertility(
            self._corpus(spark), "text", self.MERGES, group_col="lang"
        ).collect()}

        def enc(word):
            seq = "".join(" " + c for c in word)
            for l, r in self.MERGES:
                seq = seq.replace(f" {l} {r}", f" {l}{r}")
            return [t for t in seq.split(" ") if t]

        texts = {"en": ["the thin thread and the other",
                        "another band on the rim"],
                 "de": ["die lange leine und der rand"]}
        for g, ts in texts.items():
            nw = nc = nt = 0
            for t in ts:
                for w in re.split("[^a-z]+", t.lower()):
                    if w:
                        nw += 1
                        nc += len(w)
                        nt += len(enc(w))
            r = out[g]
            assert (r["n_words"], r["n_chars"], r["n_tokens"]) == \
                (nw, nc, nt), (g, r)
            assert r["tokens_per_word"] == nt / nw
            assert r["chars_per_token"] == nc / nt
        # NULL text: counted as a doc, contributes nothing
        assert out["de"]["n_docs"] == 2

    def test_ungrouped_and_plan_shape(self, spark):
        from dbldatagen_spark.functions import tokenizer_fertility

        rep = tokenizer_fertility(self._corpus(spark), "text", self.MERGES)
        rows = rep.collect()
        assert len(rows) == 1 and rows[0]["group"] == "__all__"
        # the encode is map-only JVM expressions and the report is one
        # map-side-combined aggregate: no Python eval, no extra wide
        # stages beyond the single group-key exchange
        plan = rep._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan
        assert plan.count("Exchange") <= 2

    def test_partition_stability_and_zero_denominators(self, spark):
        from dbldatagen_spark.functions import tokenizer_fertility

        df = self._corpus(spark)
        a = sorted(map(tuple, tokenizer_fertility(
            df.repartition(2), "text", self.MERGES, group_col="lang"
        ).collect()), key=str)
        b = sorted(map(tuple, tokenizer_fertility(
            df.repartition(7), "text", self.MERGES, group_col="lang"
        ).collect()), key=str)
        assert a == b
        # a group with no alphabetic words: zero counts, NULL ratios
        empty = spark.createDataFrame(
            [(1, "xx", "12345 !!!"), (2, "xx", None)],
            "id long, lang string, text string",
        )
        r = tokenizer_fertility(
            empty, "text", self.MERGES, group_col="lang"
        ).collect()[0]
        assert (r["n_docs"], r["n_words"], r["n_tokens"]) == (2, 0, 0)
        assert r["tokens_per_word"] is None
        assert r["chars_per_token"] is None

    def test_validation_passthrough(self, spark):
        from dbldatagen_spark.functions import tokenizer_fertility

        df = self._corpus(spark)
        with pytest.raises(ValueError, match="at least one"):
            tokenizer_fertility(df, "text", [])
        with pytest.raises(ValueError, match="max_merges"):
            tokenizer_fertility(
                df, "text", [("a", "b")] * 9, max_merges=8
            )


class TestCalibratedKeep:
    # labeled sample with a hand-computable sweep: scores 0..9, label
    # = score >= 6; 5 bins over [0,9] -> cum precisions from the top:
    # b4 1.0, b3 1.0, b2 4/6, b1 0.5, b0 0.4
    def _labeled(self, spark):
        return spark.createDataFrame(
            [(float(i), i >= 6) for i in range(10)], "score double, label boolean"
        )

    def _corpus(self, spark):
        return spark.createDataFrame(
            [(i, float(i)) for i in range(10)]
            + [(10, None), (11, float("nan"))],
            "id long, score double",
        )

    def test_threshold_selection_lowest_qualifying_bin(self, spark):
        from dbldatagen_spark.functions import calibrated_keep

        out = calibrated_keep(
            self._corpus(spark), "score", self._labeled(spark), 0.9,
            n_bins=5,
        )
        rows = {r["id"]: r for r in out.collect()}
        # bin 3 is the lowest bin with cum_precision >= 0.9:
        # threshold = 0 + 3*9/5 = 5.4, kept sample = {6,7,8,9}
        assert rows[0]["cal_threshold"] == 5.4
        assert rows[0]["cal_expected_precision"] == 1.0
        assert rows[0]["cal_expected_n"] == 4
        assert {i for i, r in rows.items() if r["cal_keep"]} == {6, 7, 8, 9}
        # a laxer target moves the cutoff DOWN (more volume kept)
        lax = calibrated_keep(
            self._corpus(spark), "score", self._labeled(spark), 0.6,
            n_bins=5,
        ).collect()[0]
        assert lax["cal_threshold"] == 3.6  # bin 2: 4/6 >= 0.6

    def test_flags_not_filter_and_null_nan(self, spark):
        from dbldatagen_spark.functions import calibrated_keep

        out = calibrated_keep(
            self._corpus(spark), "score", self._labeled(spark), 0.9,
            n_bins=5,
        )
        assert out.count() == 12  # every input row survives, flagged
        rows = {r["id"]: r for r in out.collect()}
        assert rows[10]["cal_keep"] is False  # NULL score never kept
        assert rows[11]["cal_keep"] is False  # NaN score never kept

    def test_infeasible_target_raises(self, spark):
        from dbldatagen_spark.functions import calibrated_keep

        labeled = spark.createDataFrame(
            [(float(i), i in (6, 7, 8)) for i in range(10)],
            "score double, label boolean",
        )  # best cumulative precision from the top: 3/4 = 0.75
        with pytest.raises(ValueError, match="0.75"):
            calibrated_keep(
                self._corpus(spark), "score", labeled, 0.9, n_bins=5
            )

    def test_validation(self, spark):
        from dbldatagen_spark.functions import calibrated_keep

        df, lab = self._corpus(spark), self._labeled(spark)
        with pytest.raises(ValueError, match="target_precision"):
            calibrated_keep(df, "score", lab, 0.0)
        with pytest.raises(ValueError, match="no column"):
            calibrated_keep(df, "missing", lab, 0.5)
        with pytest.raises(ValueError, match="already exists"):
            calibrated_keep(
                df.withColumn("cal_keep", F.lit(True)), "score", lab, 0.5
            )

    def test_partition_stability(self, spark):
        from dbldatagen_spark.functions import calibrated_keep

        cols = ["id", "cal_threshold", "cal_expected_precision",
                "cal_expected_n", "cal_keep"]  # not the NaN score cell
        a = sorted(map(tuple, calibrated_keep(
            self._corpus(spark).repartition(2), "score",
            self._labeled(spark).repartition(3), 0.9, n_bins=5,
        ).select(*cols).collect()))
        b = sorted(map(tuple, calibrated_keep(
            self._corpus(spark).repartition(7), "score",
            self._labeled(spark).repartition(1), 0.9, n_bins=5,
        ).select(*cols).collect()))
        assert a == b


class TestAnchorTextProfileDomain:
    LINKS = [
        # two subdomains of example.co.uk both anchor target.co.uk —
        # one registrable SOURCE domain, so referring_domains = 1
        ("https://a.example.co.uk/1", "https://www.target.co.uk/x",
         "  Great\tSite "),
        ("https://b.example.co.uk/2", "https://news.target.co.uk/y",
         "great site"),
        # a second referring domain with the tied-count anchor:
        # 2-2 tie between "great site" and "b portal" resolves to the
        # lexicographically smaller "b portal"
        ("https://other.com/1", "https://target.co.uk/z", "B Portal"),
        ("https://other.com/2", "https://shop.target.co.uk/w", "b portal"),
        # intra-domain, DIFFERENT hosts: survives host-level dedup,
        # must drop as a domain-level self-link
        ("https://x.target.co.uk/i", "https://y.target.co.uk/j", "intra"),
        ("bad url", "https://target.co.uk/f", "broken"),  # NULL src
    ]

    def _df(self, spark):
        return spark.createDataFrame(
            self.LINKS, "su string, du string, a string"
        )

    def test_domain_collapse(self, spark):
        from dbldatagen_spark.functions import anchor_text_profile

        rows = {r["domain"]: r for r in anchor_text_profile(
            self._df(spark), "su", "du", "a", level="domain",
        ).collect()}
        assert set(rows) == {"target.co.uk"}  # only ever a target
        t = rows["target.co.uk"]
        assert t["in_links"] == 4          # intra-domain link dropped
        assert t["referring_domains"] == 2  # example.co.uk, other.com
        assert t["unique_anchors"] == 2
        assert t["top_anchor"] == "b portal"  # 2-2 tie, lexicographic
        assert t["top_anchor_links"] == 2

    def test_keep_self_links_domain(self, spark):
        from dbldatagen_spark.functions import anchor_text_profile

        rows = {r["domain"]: r for r in anchor_text_profile(
            self._df(spark), "su", "du", "a", level="domain",
            keep_self_links=True,
        ).collect()}
        assert rows["target.co.uk"]["in_links"] == 5  # intra counts

    def test_suffix_list_plumbs_through(self, spark):
        from dbldatagen_spark.functions import anchor_text_profile

        links = spark.createDataFrame(
            [("https://a.shop.com.pl/1", "https://b.site.com.pl/2", "x")],
            "su string, du string, a string",
        )
        # without the PSL entry both hosts collapse into com.pl and
        # the link becomes an intra-domain self-link (zero rows)
        assert anchor_text_profile(
            links, "su", "du", "a", level="domain"
        ).count() == 0
        rows = anchor_text_profile(
            links, "su", "du", "a", level="domain",
            suffix_list=["com.pl"],
        ).collect()
        assert [r["domain"] for r in rows] == ["site.com.pl"]

    def test_single_corpus_scan(self, spark, tmp_path):
        # the host->domain map and both rollups all read the triple
        # aggregate; the eager checkpoint barrier must leave ZERO
        # parquet scans in the returned plan (fold-double-scan guard)
        from dbldatagen_spark.functions import anchor_text_profile

        p = str(tmp_path / "links.parquet")
        self._df(spark).write.parquet(p)
        out = anchor_text_profile(
            spark.read.parquet(p), "su", "du", "a", level="domain"
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 0, plan

    def test_level_validation_and_host_unchanged(self, spark):
        from dbldatagen_spark.functions import anchor_text_profile

        with pytest.raises(ValueError, match="level"):
            anchor_text_profile(
                self._df(spark), "su", "du", "a", level="tld"
            )
        # host level keeps its original schema (frozen oracle contract)
        assert anchor_text_profile(
            self._df(spark), "su", "du", "a"
        ).columns == ["host", "in_links", "referring_hosts",
                      "unique_anchors", "top_anchor", "top_anchor_links"]

    def test_partition_stability(self, spark):
        from dbldatagen_spark.functions import anchor_text_profile

        a = sorted(map(tuple, anchor_text_profile(
            self._df(spark).repartition(2), "su", "du", "a",
            level="domain").collect()))
        b = sorted(map(tuple, anchor_text_profile(
            self._df(spark).repartition(7), "su", "du", "a",
            level="domain").collect()))
        assert a == b


class TestAuthorityContaminationSample:
    def _fixture(self, spark):
        docs = spark.createDataFrame(
            [(i, "http://h%d.com/p%d" % (i % 2, i),
              "quick brown fox jumps over dog %d" % i)
             for i in range(20)]
            + [(99, "http://h0.com/leak",
                "alpha beta gamma delta epsilon zeta")],
            "doc_id long, url string, text string",
        )
        auth = spark.createDataFrame(
            [("h0.com", 1000), ("h1.com", 250)],
            "host string, rank_units long",
        )
        bench = spark.createDataFrame(
            [("alpha beta gamma delta epsilon zeta",)], "text string"
        )
        return docs, auth, bench

    def test_quarantine_overrides_authority(self, spark):
        from dbldatagen_spark.functions import (
            authority_contamination_sample,
        )

        docs, auth, bench = self._fixture(spark)
        out = authority_contamination_sample(
            docs, "doc_id", "url", "text", auth, bench,
            n=5, base_ppm=200_000,
        )
        assert out.count() == 21  # flags, never a filter
        rows = {r["doc_id"]: r for r in out.collect()}
        leak = rows[99]
        # top-authority host keeps at the ceiling — but the leak is
        # quarantined regardless
        assert leak["auth_keep_ppm"] == 1_000_000
        assert leak["auth_keep"] is True
        assert leak["auth_shared_ngrams"] == 2  # 6 words -> 2 5-grams
        assert leak["auth_admit"] is False
        for i in range(20):
            r = rows[i]
            assert r["auth_shared_ngrams"] is None  # clean: NULL evidence
            assert r["auth_admit"] == r["auth_keep"]

    def test_keep_decision_matches_authority_sample(self, spark):
        from dbldatagen_spark.functions import (
            authority_contamination_sample, authority_weighted_sample,
        )

        docs, auth, bench = self._fixture(spark)
        fused = authority_contamination_sample(
            docs, "doc_id", "url", "text", auth, bench,
            n=5, base_ppm=200_000, seed=11,
        ).select("doc_id", "auth_keep_ppm", "auth_keep")
        alone = authority_weighted_sample(
            docs, "doc_id", "url", auth, base_ppm=200_000, seed=11,
        ).select("doc_id", "auth_keep_ppm", "auth_keep")
        assert sorted(map(tuple, fused.collect())) == sorted(
            map(tuple, alone.collect())
        )

    def test_validation(self, spark):
        from dbldatagen_spark.functions import (
            authority_contamination_sample,
        )

        docs, auth, bench = self._fixture(spark)
        with pytest.raises(ValueError, match="already exists"):
            authority_contamination_sample(
                docs.withColumn("auth_admit", F.lit(True)),
                "doc_id", "url", "text", auth, bench,
            )
        with pytest.raises(ValueError, match="no column"):
            authority_contamination_sample(
                docs, "doc_id", "url", "body", auth, bench
            )
        # the underlying duplicate-authority-key guard still fires —
        # at action time since r16 (it rides the plan)
        with pytest.raises(Exception, match="duplicate"):
            authority_contamination_sample(
                docs, "doc_id", "url", "text",
                auth.unionByName(auth), bench,
            ).collect()

    def test_partition_stability(self, spark):
        from dbldatagen_spark.functions import (
            authority_contamination_sample,
        )

        docs, auth, bench = self._fixture(spark)
        a = sorted(map(tuple, authority_contamination_sample(
            docs.repartition(2), "doc_id", "url", "text", auth, bench,
            n=5).collect()))
        b = sorted(map(tuple, authority_contamination_sample(
            docs.repartition(7), "doc_id", "url", "text", auth, bench,
            n=5).collect()))
        assert a == b


class TestNoInferredGenerateFilter:
    """Regression guard for the r15 explode_outer sweep: Catalyst's
    InferFiltersFromGenerate turns a plain explode over a computed array
    into a pushed-down size(<array>) > 0 Filter that INLINES the array's
    whole defining expression — the tokenization/shingle/fold pipelines
    then run twice (measured 7.5 s vs 0.3 s for the n-gram posting at
    sf0.1).  The optimized plans of the exploding operators must carry no
    Filter that re-evaluates an expensive array construction."""

    _SIG = ("size(array_distinct(transform", "size(transform(",
            "size(filter(split", "size(aggregate(")

    def _offending_lines(self, df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return [
            ln.strip()[:120]
            for ln in plan.splitlines()
            if "Filter" in ln.lstrip()[:12]
            and any(sig in ln for sig in self._SIG)
        ]

    def test_pair_posting_and_folds_infer_nothing(self, spark):
        from dbldatagen_spark.functions import (
            containment_pairs, ewma, ngram_jaccard_pairs,
            rate_limit_events, token_vocabulary,
        )

        docs = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d f"), (3, "")],
            "doc_id long, text string",
        )
        ev = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00", 1, 1.0),
             (1, "2024-01-01 00:01:00", 2, 2.0)],
            "k int, ts string, oid int, v double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

        frames = {
            "ngram_pairs": ngram_jaccard_pairs(
                docs, "doc_id", "text", k=3, threshold=0.5,
                max_candidate_pairs=None,
            ),
            "containment": containment_pairs(
                docs, "doc_id", "text", k=3, threshold=0.5,
                max_candidate_pairs=None,
            ),
            "vocab": token_vocabulary(docs, "text", top_k=5),
            "ewma": ewma(ev, "k", "ts", "v", alpha=0.5, order_col="oid"),
            "ratelimit": rate_limit_events(
                ev, "k", "ts", max_events=1, window_seconds=30,
                order_col="oid",
            ),
        }
        bad = {n: lines for n, df in frames.items()
               for lines in [self._offending_lines(df)] if lines}
        assert not bad, bad


class TestNoMetricInJoinCondition:
    """Regression guard for the r15 pair-metric aggregate barrier: a
    threshold filter on a projected similarity metric is substituted
    into the JOIN CONDITION by PushPredicateThroughJoin, re-running the
    intersect/merge/dot arithmetic once more per candidate pair
    (measured 20.7 -> 4.0 s on containment_sketch at sf0.1).  With the
    metrics computed inside the pair-key aggregate, every Join in the
    optimized plan must carry only key comparisons — no Join condition
    may evaluate a pair metric."""

    _SIG = ("array_intersect", "array_union", "array_contains",
            "aggregate(", "array_distinct(concat(")

    def _offending_joins(self, df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return [
            ln.strip()[:120]
            for ln in plan.splitlines()
            if "Join" in ln and any(sig in ln for sig in self._SIG)
        ]

    def test_pair_joins_carry_no_metric(self, spark):
        from dbldatagen_spark.functions import (
            containment_pairs, containment_sketch_pairs,
            cross_corpus_near_duplicates, embedding_near_duplicates,
            minhash_near_duplicates, ngram_jaccard_pairs,
        )

        docs = spark.createDataFrame(
            [(1, "a b c d e f g h"), (2, "a b c d e f g i"), (3, "")],
            "doc_id long, text string",
        )
        emb = spark.createDataFrame(
            [(i, [float(i % 3), 1.0, 0.5]) for i in range(6)],
            "vec_id long, embedding array<double>",
        )
        frames = {
            "ngram_pairs": ngram_jaccard_pairs(
                docs, "doc_id", "text", k=3, threshold=0.5,
                max_candidate_pairs=None,
            ),
            "containment": containment_pairs(
                docs, "doc_id", "text", k=3, threshold=0.5,
                max_candidate_pairs=None,
            ),
            "containment_sketch": containment_sketch_pairs(
                docs, "doc_id", "text", k=3, sketch_k=4, threshold=0.5,
                max_candidate_pairs=None,
            ),
            "minhash_verify": minhash_near_duplicates(
                docs, "doc_id", "text", threshold=0.5,
            ),
            "cross_corpus": cross_corpus_near_duplicates(
                docs, docs, "doc_id", "text", threshold=0.5,
            ),
            "cosine_exact": embedding_near_duplicates(
                emb, "vec_id", "embedding", threshold=0.9, bucketed=False,
            ),
        }
        bad = {n: lines for n, df in frames.items()
               for lines in [self._offending_joins(df)] if lines}
        assert not bad, bad
