"""Checkpoint lifetimes of the iterative operators that share
``functions/_materialize.py``: ``pagerank`` (also under
``host_authority``) and ``bpe_train`` release every round checkpoint
their result does not read, on the error path too, and a
``checkpoint_dir`` override puts the session's prior dir back unchanged,
when the operator raises too."""

import pytest
from pyspark.errors import SparkRuntimeException

from dbldatagen_spark.functions import _materialize, bpe_train, host_authority, pagerank
from test_dedup_kernels import _persisted_ids

EDGES = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]


@pytest.mark.parametrize("weighted", [False, True])
def test_pagerank_keeps_only_the_result_checkpoint(spark, weighted):
    edges = spark.createDataFrame(
        [(s, d, 2) for s, d in EDGES], "s string, d string, w long"
    )
    before = _persisted_ids(spark)
    ranked = pagerank(
        edges, "s", "d", weight_col="w" if weighted else None, iterations=3
    )
    assert len(_persisted_ids(spark) - before) <= 1
    assert {r["node"] for r in ranked.collect()} == set("abcd")


def test_host_authority_keeps_only_the_result_checkpoint(spark):
    links = spark.createDataFrame(
        [
            ("https://a.com/x", "https://b.com/y"),
            ("https://b.com/y", "https://c.com/z"),
            ("https://c.com/z", "https://a.com/"),
            ("https://d.com/", "https://a.com/q"),
        ],
        "src string, dst string",
    )
    before = _persisted_ids(spark)
    ranked = host_authority(links, "src", "dst", iterations=3)
    assert len(_persisted_ids(spark) - before) <= 1
    assert {r["host"] for r in ranked.collect()} == {"a.com", "b.com", "c.com", "d.com"}


def test_pagerank_without_edges_reads_its_node_checkpoint(spark):
    edges = spark.createDataFrame([(None, "a"), ("b", None)], "s string, d string")
    before = _persisted_ids(spark)
    ranked = pagerank(edges, "s", "d", iterations=3)
    assert len(_persisted_ids(spark) - before) <= 1
    assert ranked.collect() == []
    assert ranked.columns == ["node", "rank_units", "rank"]


def test_pagerank_releases_every_checkpoint_on_error(spark, monkeypatch):
    calls = []
    real = _materialize.checkpoint

    def failing(df, reliable):
        calls.append(1)
        if len(calls) == 4:  # edges, nodes, round 1, then round 2
            raise RuntimeError("checkpoint failed")
        return real(df, reliable)

    monkeypatch.setattr(_materialize, "checkpoint", failing)
    edges = spark.createDataFrame(EDGES, "s string, d string")
    before = _persisted_ids(spark)
    with pytest.raises(RuntimeError, match="checkpoint failed"):
        pagerank(edges, "s", "d", iterations=3)
    assert len(calls) == 4
    assert _persisted_ids(spark) - before == set()


@pytest.mark.parametrize("num_merges", [6, 12])
def test_bpe_train_leaves_no_checkpoint(spark, num_merges):
    texts = ["low lower lowest", "new newer newest", "low low new", "widest wider"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    before = _persisted_ids(spark)
    merges = bpe_train(df, "text", num_merges)
    assert len(merges) == num_merges
    assert _persisted_ids(spark) - before == set()


def _overflowing_edges(spark):
    # one source with out-weight 2^32 and edge weight 2^31: the
    # headroom guard fires while iteration 1 materializes
    return spark.createDataFrame(
        [("a", "b", 2**31), ("a", "c", 2**31)], "s string, d string, w long"
    )


def test_checkpoint_dir_restored_when_pagerank_raises(spark, tmp_path):
    sc = spark.sparkContext
    prior = str(tmp_path / "prior")
    sc.setCheckpointDir(prior)
    try:
        with pytest.raises(SparkRuntimeException, match="headroom"):
            pagerank(
                _overflowing_edges(spark), "s", "d", weight_col="w",
                iterations=2, checkpoint_dir=str(tmp_path / "call"),
            )
        # the setter nests a fresh UUID subdir under what it is given
        assert sc.getCheckpointDir().startswith("file:" + prior)
    finally:
        sc._jsc.sc().setCheckpointDir(None)


def test_checkpoint_dir_cleared_when_pagerank_raises(spark, tmp_path):
    sc = spark.sparkContext
    sc._jsc.sc().setCheckpointDir(None)
    with pytest.raises(SparkRuntimeException, match="headroom"):
        pagerank(
            _overflowing_edges(spark), "s", "d", weight_col="w",
            iterations=2, checkpoint_dir=str(tmp_path / "call"),
        )
    assert sc.getCheckpointDir() is None


def test_checkpoint_dir_is_not_nested_by_repeated_overrides(spark, tmp_path):
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "prior"))
    try:
        before = sc.getCheckpointDir()
        edges = spark.createDataFrame(EDGES, "s string, d string")
        for i in range(3):
            pagerank(
                edges, "s", "d", iterations=2,
                checkpoint_dir=str(tmp_path / f"call{i}"),
            ).collect()
        assert sc.getCheckpointDir() == before
    finally:
        sc._jsc.sc().setCheckpointDir(None)
