"""``scripts/measure.py``: the per-query record over registry queries."""

import importlib.util
import os

import pytest

from test_functions import SF

FIELDS = {
    "query", "construction_s", "construction_py4j", "eager_jobs", "rows",
    "collect_s", "noop_s",
    "sink_share", "shuffles", "broadcasts", "sort_merge_joins",
    "py_udf_nodes", "codegen_fallbacks", "shuffle_bytes", "shuffle_records",
    "spill_bytes", "exchanges", "persisted_rdds",
}


@pytest.fixture(scope="module")
def measure():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "measure.py",
    )
    spec = importlib.util.spec_from_file_location("measure", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# gen_sequence compiles to SQL text: 15 py4j commands (107 when every
# node was an F.* call)
MAX_CONSTRUCTION_PY4J = {"gen_sequence": 40}


@pytest.mark.parametrize(
    "name,shuffled", [("dedup_minhash_lsh", True), ("gen_sequence", False)]
)
def test_record(spark, measure, name, shuffled):
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[name]
    # a cache entry left by an earlier build of the same plan would
    # serve this one, which then adds none
    spark.catalog.clearCache()
    rec = measure.measure(spark, name, fn, SF, runs=1)
    assert set(rec) == FIELDS, rec
    assert rec["rows"] == len(fn(spark, SF).collect())
    assert (rec["shuffles"] >= 1) if shuffled else (rec["shuffles"] == 0)
    assert isinstance(rec["eager_jobs"], int) and rec["eager_jobs"] >= 0
    assert isinstance(rec["construction_py4j"], int) and rec["construction_py4j"] > 0
    if name in MAX_CONSTRUCTION_PY4J:
        assert rec["construction_py4j"] <= MAX_CONSTRUCTION_PY4J[name], rec
    assert rec["shuffle_records"] == sum(e["records"] for e in rec["exchanges"])
    assert 0 < rec["noop_s"] and 0 < rec["collect_s"]
    # minhash_near_duplicates caches the shingle hashes its result reads
    assert (rec["persisted_rdds"] >= 1) if shuffled else (rec["persisted_rdds"] == 0)
