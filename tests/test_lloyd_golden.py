"""Golden digests for the Lloyd family in ``functions/similarity.py``.

Every digest below was recorded from the separate ``kmeans_fit`` and
``pq_train`` loops, before both became the one-subspace and the
``m``-subspace case of one kernel.  One sha256 per output over the raw
float64 / int bytes (codebooks, inertia histories, assignments, codes,
report rows, the IVF-PQ index), at 1 and at 5 input partitions: the
partition count fixes the order of the driver-side reduce, so each has
its own bits.  Rows 0 and 1 of the corpus are the same vector, so the
second seed's cell starts empty and the keep-the-old-centroid branch
runs.
"""

import hashlib

import numpy as np
import pytest

from dbldatagen_spark.functions import (
    ivfpq_build,
    kmeans_assign,
    kmeans_fit,
    pq_encode,
    pq_reconstruction_report,
    pq_train,
)

N, DIM = 600, 16

GOLDEN = {
    1: {
        "kmeans_fit": "3fe8e02b6b646c29",
        "kmeans_assign": "25f1b79af549062d",
        "pq_train": "491914386c45431c",
        "pq_encode": "5bfd09dd6eb6cbed",
        "pq_reconstruction_report": "bd7bc3db528ebb35",
        "ivfpq_build": "a7fac390bbf5f509",
    },
    5: {
        "kmeans_fit": "a8e52491e15af88d",
        "kmeans_assign": "25f1b79af549062d",
        "pq_train": "93c9c75fb28a755a",
        "pq_encode": "5bfd09dd6eb6cbed",
        "pq_reconstruction_report": "471300f2f0e89775",
        "ivfpq_build": "c13b91deaeac4407",
    },
}


def _corpus(spark, partitions):
    rng = np.random.default_rng(20111)
    centers = rng.normal(0.0, 4.0, size=(5, DIM))
    vecs = centers[rng.integers(0, 5, size=N)] + rng.normal(0.0, 1.0, size=(N, DIM))
    vecs[1] = vecs[0]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    rdd = spark.sparkContext.parallelize(rows, partitions)
    return spark.createDataFrame(rdd, "vec_id long, v array<double>")


def _sha(*arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()[:16]


def _by_id(df, col):
    rows = sorted(df.select("vec_id", col).collect())
    return [r[col] for r in rows]


def lloyd_digests(spark, partitions):
    df = _corpus(spark, partitions)
    out = {}
    cents, hist = kmeans_fit(df, "v", k=6, id_col="vec_id", max_iter=8)
    out["kmeans_fit"] = _sha(np.asarray(cents, dtype=np.float64), np.asarray(hist))
    cells = _by_id(kmeans_assign(df, "v", cents), "cell")
    out["kmeans_assign"] = _sha(np.asarray(cells, dtype=np.int64))
    cb, hist = pq_train(df, "v", m=4, k=8, id_col="vec_id", max_iter=8)
    out["pq_train"] = _sha(np.asarray(cb, dtype=np.float64), np.asarray(hist))
    codes = _by_id(pq_encode(df, "v", cb), "pq_codes")
    out["pq_encode"] = _sha(np.asarray(codes, dtype=np.int64))
    report = sorted(pq_reconstruction_report(df, "v", cb).collect())
    out["pq_reconstruction_report"] = _sha(
        np.asarray([[r["subspace"], r["k"], r["n_vectors"]] for r in report]),
        np.asarray([[r["mse"], r["variance"]] for r in report]),
        np.asarray([r["mse_improves"] for r in report]),
    )
    idx, icents, icb = ivfpq_build(
        df, "vec_id", "v", n_cells=4, m=4, k=8, coarse_max_iter=6, pq_max_iter=6
    )
    index = sorted(idx.collect())
    out["ivfpq_build"] = _sha(
        np.asarray([[r["vec_id"], r["cell"], *r["pq_codes"]] for r in index]),
        np.asarray(icents, dtype=np.float64),
        np.asarray(icb, dtype=np.float64),
    )
    return out


@pytest.mark.parametrize("partitions", [1, 5])
def test_lloyd_family_is_bit_identical(spark, partitions):
    assert lloyd_digests(spark, partitions) == GOLDEN[partitions]
