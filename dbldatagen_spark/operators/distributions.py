"""Distribution sampling as pure Spark SQL expressions.

Every sampler maps a deterministic 64-bit *seed column* (see
:mod:`dbldatagen_spark.operators.seed`) to either

* an **index** in ``[0, n)`` — used to pick lattice points / list values
  (:func:`index_expr`), or
* a **unit** double in ``[0, 1]`` — used for continuous ranges
  (:func:`unit_expr`).

All samplers are closed-form inverse-CDF (or Box–Muller) transforms built
as Spark SQL text over built-in functions only, so they run inside whole-stage codegen
with zero Python — unlike the reference's v0 path which routes
distributions through nondeterministic pandas UDFs
(``/root/reference/dbldatagen/distributions/data_distribution.py:5-21``).
The reference's declarative core does the same pure-expression trick for
uniform/normal/zipf/exponential/lognormal
(``/root/reference/dbldatagen/core/engine/distributions.py``); we extend it
to Beta/Gamma/Pareto via Wilson–Hilferty / truncated-Pareto closed forms so
*no* distribution needs a UDF.

Determinism note: Box–Muller needs two independent uniforms; the second is
derived JVM-side as ``xxhash64(salt, seed_col)`` so it remains a pure
function of (column_seed, row_id).
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from dbldatagen_spark.operators.sqltext import (
    bind_column,
    call,
    case_when,
    cast,
    sql_lit,
)
from dbldatagen_spark.operators.seed import (
    cell_seed,
    decorrelate,
    uniform_fraction,
    uniform_fraction_open,
)
from dbldatagen_spark.plans.spec import (
    Beta,
    Distribution,
    Exponential,
    Gamma,
    LogNormal,
    Normal,
    Pareto,
    Uniform,
    WeightedValues,
    Zipf,
)

_TWO_PI = 2.0 * math.pi
_SECOND_DRAW_SALT = 0x5DEECE66D


def _second_uniform(seed_col: "str | Column") -> "str | Column":
    """An independent (0,1) uniform derived from the same seed column."""
    if isinstance(seed_col, Column):
        return uniform_fraction_open(F.xxhash64(F.lit(_SECOND_DRAW_SALT), seed_col))
    return uniform_fraction_open(call("xxhash64", sql_lit(_SECOND_DRAW_SALT), seed_col))


def standard_normal_expr(seed_col: "str | Column") -> "str | Column":
    """z ~ N(0,1) via Box–Muller: ``sqrt(-2 ln u1) * cos(2π u2)``.  SQL text
    in, SQL text out; a ``Column`` (the copula expressions) yields a
    ``Column``."""
    u1 = uniform_fraction_open(seed_col)
    u2 = _second_uniform(seed_col)
    if isinstance(seed_col, Column):
        return F.sqrt(F.lit(-2.0) * F.log(u1)) * F.cos(F.lit(_TWO_PI) * u2)
    return (
        f"(sqrt({sql_lit(-2.0)} * ln({u1}))"
        f" * cos({sql_lit(_TWO_PI)} * {u2}))"
    )


def _clamp(col: str, lo: str, hi: str) -> str:
    return call("greatest", lo, call("least", hi, col))


def _unit_clamp(col: str) -> str:
    return _clamp(col, sql_lit(0.0), sql_lit(1.0))


def _wilson_hilferty_gamma(z: str, shape: float, scale: float) -> str:
    """Gamma(k, θ) approximation from one standard normal draw.

    Wilson–Hilferty: X ≈ kθ·(1 − 1/(9k) + z·sqrt(1/(9k)))³ — accurate for
    k ≳ 0.5, monotone in z, and fully closed-form (no UDF). Clamped at 0.
    """
    k = max(shape, 1e-6)
    c = 1.0 / (9.0 * k)
    body = f"({sql_lit(1.0 - c)} + ({z} * {sql_lit(math.sqrt(c))}))"
    cube = call("power", call("greatest", body, sql_lit(0.0)), sql_lit(3.0))
    return call("greatest", f"({sql_lit(k * scale)} * {cube})", sql_lit(0.0))


def unit_expr(seed_col: str, dist: Distribution) -> str:
    """Map seed → double in [0, 1] distributed per ``dist``.

    Used for continuous value ranges: ``value = min + unit * span``.
    Normal auto-centering follows the reference convention (midpoint,
    span/6 std — ``core/engine/distributions.py:105-159``).
    """
    if isinstance(dist, Uniform):
        return uniform_fraction(seed_col)
    if isinstance(dist, Normal):
        z = standard_normal_expr(seed_col)
        # auto-center: mean 0.5, std 1/6 => ±3σ spans [0,1]
        mean = 0.5 if dist.mean is None else dist.mean
        std = 1.0 / 6.0 if dist.stddev is None else dist.stddev
        return _unit_clamp(f"({sql_lit(mean)} + ({z} * {sql_lit(std)}))")
    if isinstance(dist, LogNormal):
        z = standard_normal_expr(seed_col)
        x = call("exp", f"({sql_lit(dist.mu)} + ({z} * {sql_lit(dist.sigma)}))")
        # normalize so median=exp(mu) lands at 0.1 of the unit range
        return _unit_clamp(f"({x} / {sql_lit(math.exp(dist.mu) * 10.0)})")
    if isinstance(dist, Exponential):
        u = uniform_fraction_open(seed_col)
        x = f"(-ln(({sql_lit(1.0)} - {u})) / {sql_lit(dist.rate)})"
        # mean 1/rate lands at 0.2 of the unit range
        return _unit_clamp(f"({x} * {sql_lit(dist.rate / 5.0)})")
    if isinstance(dist, Zipf):
        # continuous truncated power-law x^-s on [1, B], linearly mapped to
        # [0,1]. B caps the dynamic range at two decades — without a cap
        # nearly all mass lands indistinguishably near 0 in unit space.
        s = dist.exponent
        B = 100.0
        u = uniform_fraction(seed_col)
        top = B ** (1.0 - s) - 1.0
        x = call("power", f"({sql_lit(1.0)} + ({u} * {sql_lit(top)}))",
                 sql_lit(1.0 / (1.0 - s)))
        return _unit_clamp(f"(({x} - {sql_lit(1.0)}) / {sql_lit(B - 1.0)})")
    if isinstance(dist, Pareto):
        # continuous truncated Pareto(shape) on [1, B], linear map to [0,1]
        a = dist.shape
        B = 100.0
        u = uniform_fraction(seed_col)
        tail = 1.0 - B ** (-a)
        x = call("power", f"({sql_lit(1.0)} - ({u} * {sql_lit(tail)}))",
                 sql_lit(-1.0 / a))
        return _unit_clamp(f"(({x} - {sql_lit(1.0)}) / {sql_lit(B - 1.0)})")
    if isinstance(dist, Gamma):
        z = standard_normal_expr(seed_col)
        x = _wilson_hilferty_gamma(z, dist.shape, dist.scale)
        # mean kθ lands at 0.2 of the unit range
        return _unit_clamp(f"({x} / {sql_lit(dist.shape * dist.scale * 5.0)})")
    if isinstance(dist, Beta):
        # Beta(a,b) = G1/(G1+G2) with independent gammas (Wilson–Hilferty)
        z1 = standard_normal_expr(seed_col)
        z2 = standard_normal_expr(call("xxhash64", sql_lit(0x2545F491), seed_col))
        g1 = _wilson_hilferty_gamma(z1, dist.alpha, 1.0)
        g2 = _wilson_hilferty_gamma(z2, dist.beta, 1.0)
        denom = f"({g1} + {g2})"
        return case_when(f"{denom} > {sql_lit(0.0)}", f"({g1} / {denom})", sql_lit(0.5))
    if isinstance(dist, WeightedValues):
        raise ValueError("WeightedValues applies to value lists, not ranges")
    if hasattr(dist, "unit_expr"):
        # registered custom distribution (register_distribution protocol):
        # it maps a seed Column to its own [0,1] Column, bound by name
        return _unit_clamp(bind_column(dist.unit_expr(F.expr(seed_col))))
    raise ValueError(f"unsupported distribution: {dist!r}")


def _index_clamp(idx: str, n: int) -> str:
    return _clamp(idx, cast(sql_lit(0), "BIGINT"), cast(sql_lit(n - 1), "BIGINT"))


def index_expr(seed_col: str, n: int, dist: Distribution) -> str:
    """Map seed → long index uniform/distributed in ``[0, n)``."""
    if n <= 0:
        raise ValueError(f"index space must be positive, got {n}")
    if n == 1:
        return cast(sql_lit(0), "BIGINT")
    if isinstance(dist, Uniform):
        return cast(call("pmod", seed_col, sql_lit(n)), "BIGINT")
    if isinstance(dist, Zipf):
        # inverse CDF of the continuous power-law x^-s truncated to [1, n+1]:
        # x = (1 + u·((n+1)^(1−s) − 1))^(1/(1−s)); idx = floor(x) − 1
        s = dist.exponent
        u = uniform_fraction(seed_col)
        top = float((n + 1) ** (1.0 - s) - 1.0)
        x = call("power", f"({sql_lit(1.0)} + ({u} * {sql_lit(top)}))",
                 sql_lit(1.0 / (1.0 - s)))
        return _index_clamp(f"({cast(call('floor', x), 'BIGINT')} - {sql_lit(1)})", n)
    if isinstance(dist, Pareto):
        # truncated Pareto on [1, n+1]
        a = dist.shape
        u = uniform_fraction(seed_col)
        tail = float(1.0 - (n + 1) ** (-a))
        x = call("power", f"({sql_lit(1.0)} - ({u} * {sql_lit(tail)}))",
                 sql_lit(-1.0 / a))
        return _index_clamp(f"({cast(call('floor', x), 'BIGINT')} - {sql_lit(1)})", n)
    # generic: scale the unit sample onto the lattice
    unit = unit_expr(seed_col, _index_space_dist(dist, n))
    idx = cast(call("floor", f"({unit} * {sql_lit(float(n))})"), "BIGINT")
    return _index_clamp(idx, n)


def _index_space_dist(dist: Distribution, n: int) -> Distribution:
    """Normal in index space auto-centers at n/2 with std n/6 — expressed in
    unit space that is exactly the (0.5, 1/6) default, so pass through."""
    return dist


def weighted_index_expr(seed_col: str, weights: Sequence[float]) -> str:
    """Index into a value list by relative weights via a cumulative-threshold
    fold of ``CASE WHEN`` (reference ``core/engine/distributions.py:65-102``).

    Zero-sum weights fall back to uniform.
    """
    total = float(sum(weights))
    n = len(weights)
    if total <= 0.0:
        return cast(call("pmod", seed_col, sql_lit(n)), "BIGINT")
    u = uniform_fraction(seed_col)
    expr = cast(sql_lit(n - 1), "BIGINT")  # default: last bucket
    cumulative = 0.0
    conds = []
    for i, w in enumerate(weights[:-1]):
        cumulative += w / total
        conds.append((cumulative, i))
    # build nested whens from the last threshold outward
    for threshold, i in reversed(conds):
        expr = case_when(f"{u} < {sql_lit(threshold)}", cast(sql_lit(i), "BIGINT"), expr)
    return expr


def correlated_normal_exprs(
    id_col: Column,
    corr: Sequence[Sequence[float]],
    *,
    seed: int,
) -> "list[Column]":
    """k jointly Gaussian ``N(0,1)`` columns with the given correlation
    matrix, as pure expressions over the row id — the Gaussian-copula
    building block the reference has no equivalent of (its columns
    correlate only through ``baseColumn`` chaining, which cannot hit a
    target correlation).  ``z = L e``: the driver Cholesky-factors the
    k x k matrix once (numpy, raises ``ValueError`` if not symmetric
    positive-definite) and each output is a literal-weighted sum of k
    independent Box–Muller normals drawn from decorrelated cell seeds.

    Marginals: transform each z through any inverse CDF for a copula
    with those marginals (rank correlation is preserved; Pearson
    correlation exactly holds for the normals themselves).

    Scale shape: like every generator expression — zero shuffle,
    whole-stage codegen, partition-independent (seeds hash the row id,
    never the partition), so the same spec yields identical columns at
    any parallelism.
    """
    import numpy as np

    A = np.asarray(corr, dtype=float)
    if A.ndim != 2 or A.shape[0] != A.shape[1]:
        raise ValueError(f"corr must be a square matrix, got shape {A.shape}")
    if not np.allclose(A, A.T):
        raise ValueError("corr must be symmetric")
    if not np.allclose(np.diag(A), 1.0):
        raise ValueError("corr must have a unit diagonal")
    try:
        L = np.linalg.cholesky(A)
    except np.linalg.LinAlgError as exc:
        raise ValueError(f"corr is not positive-definite: {exc}") from exc
    k = A.shape[0]
    es = [
        standard_normal_expr(cell_seed(decorrelate(seed, 0x100 + j), id_col))
        for j in range(k)
    ]
    out: "list[Column]" = []
    for i in range(k):
        acc = F.lit(float(L[i][0])) * es[0]
        for j in range(1, i + 1):
            acc = acc + F.lit(float(L[i][j])) * es[j]
        out.append(acc)
    return out


def markov_sequence_expr(
    id_col: Column,
    transition: Sequence[Sequence[float]],
    *,
    seed: int,
    length: int,
    init: Sequence[float] | None = None,
) -> Column:
    """A ``length``-step Markov chain per row as one ``array<int>`` of
    state indices — controlled-dynamics sequence generation (user
    journeys, protocol states, market regimes) the reference cannot
    express: its rows are independent, while here each step's
    distribution is the ``transition`` row of the previous step's
    state.

    ``transition`` is a k x k row-stochastic matrix; ``init`` is the
    first-step distribution (uniform over states when omitted).  The
    chain is a pure ``F.aggregate`` fold over per-step decorrelated
    uniforms: step t draws ``u_t``, looks up the current state's CDF
    row (a 2-D literal), and moves to the first state whose cumulative
    mass exceeds ``u_t``.  No UDF, no RNG state.

    Scale shape: zero shuffle, partition-independent (every uniform
    hashes ``(seed, step, row id)``), whole-stage codegen; cost is
    ``length x k`` comparisons per row.  Empirical transition
    frequencies converge to ``transition`` (the conformance query
    asserts it within sampling tolerance).
    """
    import numpy as np

    A = np.asarray(transition, dtype=float)
    if A.ndim != 2 or A.shape[0] != A.shape[1]:
        raise ValueError(f"transition must be square, got shape {A.shape}")
    if (A < 0).any() or not np.allclose(A.sum(axis=1), 1.0):
        raise ValueError("transition rows must be non-negative and sum to 1")
    if length < 1:
        raise ValueError(f"length must be >= 1, got {length}")
    k = A.shape[0]
    if init is None:
        p0 = np.full(k, 1.0 / k)
    else:
        p0 = np.asarray(init, dtype=float)
        if p0.shape != (k,) or (p0 < 0).any() or not np.isclose(p0.sum(), 1.0):
            raise ValueError("init must be a length-k distribution")

    def _cdf_lit(row: "np.ndarray") -> Column:
        return F.array(*[F.lit(float(v)) for v in np.cumsum(row)])

    cdf_rows = F.array(*[_cdf_lit(A[i]) for i in range(k)])
    init_cdf = _cdf_lit(p0)

    def _u(step: Column) -> Column:
        return uniform_fraction_open(
            F.xxhash64(F.lit(decorrelate(seed, 0x3A7)), step, id_col)
        )

    def _pick(cdf: Column, u: Column) -> Column:
        # first index whose cumulative mass exceeds u. The clamp is not
        # paranoia: the row's float cumsum can end at 0.999…9 < 1, and a
        # u landing in that sliver would index state k — out of range,
        # and the next step's element_at throws under ANSI
        return F.least(
            F.lit(k - 1),
            F.aggregate(
                cdf,
                F.lit(0),
                lambda acc, p: acc + F.when(u >= p, 1).otherwise(0),
            ),
        )

    first = _pick(init_cdf, _u(F.lit(0)))
    init_state = F.struct(
        F.array(first).alias("arr"), first.alias("cur")
    )

    def _step(acc, t):
        row = F.element_at(cdf_rows, acc["cur"] + 1)
        nxt = _pick(row, _u(t))
        return F.struct(
            F.concat(acc["arr"], F.array(nxt)).alias("arr"), nxt.alias("cur")
        )

    steps = F.sequence(F.lit(1), F.lit(length - 1)) if length > 1 else F.array().cast("array<int>")
    return F.aggregate(steps, init_state, _step, lambda acc: acc["arr"])
