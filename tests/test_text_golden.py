"""Golden digests for the pandas-UDF text paths (template and ILText).

Every digest below was recorded from the row-at-a-time ILText loop and
the ``np.char`` template concatenation: one order-sensitive sha256 over
``"\\x1e".join(outputs)`` per case, plus one ``sum(xxhash64)`` per column
for a v0 build that carries the benchmark's text columns.  Any rewrite of
``operators/templates.py`` must reproduce these bits exactly; the
memory-bound test keeps it from buying speed with a rows x max-words
draw matrix.
"""

import hashlib
import tracemalloc

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dbldatagen_spark import DataGenerator, ILText
from dbldatagen_spark.operators.templates import (
    LOREM_WORDS,
    _mix,
    compile_template,
    expand_iltext,
    expand_templates,
    template_expr,
    template_udf_expr,
)

N_SEEDS = 2000
_EDGE = [0, 1, 2**63, 2**64 - 2, 2**64 - 1]
SEEDS = np.array(
    _EDGE + [(i * 0x9E3779B97F4A7C15 + 12345) % 2**64 for i in range(N_SEEDS - len(_EDGE))],
    dtype=np.uint64,
)

# (paragraphs, sentences, words)
ILTEXT_RANGES = [
    ((1, 1), (1, 3), (4, 8)),
    ((1, 3), (2, 5), (5, 10)),
    ((2, 2), (1, 1), (1, 1)),
    ((1, 1), (1, 1), (1, 1)),
    ((1, 1), (1, 3), (3, 9)),
    ((1, 1), (1, 2), (1, 300)),
]

TEMPLATES = [
    ("ddd-ddd-dddd", False),
    (r"\w.\w@\w.com", False),
    ("KKKK-dddd|AAAA-Dddd", False),
    (r"id-\v-\n", False),
    (r"\v1:\W", False),
    (r"\d\d-\a\A-\k\K\x\X\D|\N/\w", True),
]


def _digest(outputs) -> str:
    return hashlib.sha256("\x1e".join(outputs).encode("utf-8")).hexdigest()


def _base_values(n: int) -> pd.Series:
    return pd.Series([[i, i * 7 % 13, f"v{i}"] if i % 5 else [i] for i in range(n)])


GOLDEN_ILTEXT = {
    "1-1/1-3/4-8": "77c0ffa1c3c5b5a59d24dabe560beef69b0ed27a18cee60f8dd242eefd86b59b",
    "1-3/2-5/5-10": "921fb33f545951f018f4b6f4cdf98a671e809569631e166ca6988fc1304f69a2",
    "2-2/1-1/1-1": "ea58379407db13589810bfd456c7580fb4ccb8144d5964c2e3743aec82306bdc",
    "1-1/1-1/1-1": "a3f3c9987568b12ff12e044a09fa825341e825e16d2bc510d293e3a68c46640c",
    "1-1/1-3/3-9": "7a5fff3d9c9da1c7fe3d4ce12fe1c9b636ec96e396dfb8195a211b3d1977c215",
    "1-1/1-2/1-300": "866766a846300a18f2e718f4f04636860c38b229d1712619d7c3eecef893baf1",
}

GOLDEN_GENERATE_TEXT = {
    42: "d5e0332878182f97b7dc35d3d3b21f7e3804ee6ddb6d3ff195c43088f20a2436",
    -1: "cc3387dd7ab46bf5a91aebe7674fbf9f83735b3912291ecc922062d3abdb0a30",
    2**63: "190e3bbc88baecef9cb61c65f10fb3d142a333b45446e0bfdb331865bf7d5f4f",
}

# (template, escape_special_chars, with base values) -> digest; a template
# without \v ignores its base values, so both of its digests agree
GOLDEN_TEMPLATES = {
    ("ddd-ddd-dddd", False, False): "4d97b6060718b8274031ef7e3a3bd4d207fe16e86c20a53bb13f362b9abf64b5",
    ("ddd-ddd-dddd", False, True): "4d97b6060718b8274031ef7e3a3bd4d207fe16e86c20a53bb13f362b9abf64b5",
    (r"\w.\w@\w.com", False, False): "a924c6ae0196aa64f28eeebbe6a4d7902f2a74ff5edd4a3563513265de73ec4c",
    (r"\w.\w@\w.com", False, True): "a924c6ae0196aa64f28eeebbe6a4d7902f2a74ff5edd4a3563513265de73ec4c",
    ("KKKK-dddd|AAAA-Dddd", False, False): "db93d76134a469ab3b4d7a52f3e6c19deb9199b438718f42248e0d3f8ffd74c6",
    ("KKKK-dddd|AAAA-Dddd", False, True): "db93d76134a469ab3b4d7a52f3e6c19deb9199b438718f42248e0d3f8ffd74c6",
    (r"id-\v-\n", False, False): "670773f379e456052c6e9d152b24285a451b83fbccc327842830750ee83688a6",
    (r"id-\v-\n", False, True): "4af581a2cc9c7b9818af12a9a49cd40aba8a9266bfe070850c5c04fe7dc00674",
    (r"\v1:\W", False, False): "985a53957b126e4498c3807a903ffa91ae7fda527539900098ddc7bfbc051dff",
    (r"\v1:\W", False, True): "2ba699278ef635765c333d8048a97bbac929de5f188a09e57bff58f5b9a16042",
    (r"\d\d-\a\A-\k\K\x\X\D|\N/\w", True, False):
        "12a333583a9e346bbe94ddbdbc7bcc987302e60c957b1b7d9788d59c4d0a4ae1",
    (r"\d\d-\a\A-\k\K\x\X\D|\N/\w", True, True):
        "12a333583a9e346bbe94ddbdbc7bcc987302e60c957b1b7d9788d59c4d0a4ae1",
}

# count, then sum(xxhash64) of phone, email, code, body
GOLDEN_BUILD = ["3000", "-135990410107254991509", "91816081988163324764",
                "-431461232326759663350", "146855082726988068644"]


def _range_id(r):
    return "/".join(f"{lo}-{hi}" for lo, hi in r)


@pytest.mark.parametrize("ranges", ILTEXT_RANGES, ids=_range_id)
def test_expand_iltext_golden(ranges):
    out = expand_iltext(SEEDS, *ranges)
    assert len(out) == N_SEEDS
    assert _digest(out) == GOLDEN_ILTEXT[_range_id(ranges)]


def test_expand_iltext_empty():
    assert list(expand_iltext(np.array([], dtype=np.uint64), (1, 2), (1, 3), (2, 5))) == []


@pytest.mark.parametrize("seed", [42, -1, 2**63])
def test_generate_text_golden(seed):
    gen = ILText(paragraphs=(1, 2), sentences=(1, 3), words=(2, 7)).withRandomSeed(seed)
    text = gen.generateText(None, 500)
    pandas_text = gen.pandasGenerateText(pd.Series(range(500)))
    assert list(pandas_text) == list(text)
    assert _digest(text) == GOLDEN_GENERATE_TEXT[seed]


@pytest.mark.parametrize("with_values", [False, True], ids=["no_values", "values"])
@pytest.mark.parametrize("template,escape", TEMPLATES, ids=[t for t, _ in TEMPLATES])
def test_expand_templates_golden(template, escape, with_values):
    values = _base_values(N_SEEDS) if with_values else None
    out = expand_templates(compile_template(template, escape), SEEDS.view(np.int64), values)
    assert len(out) == N_SEEDS
    assert _digest(out) == GOLDEN_TEMPLATES[(template, escape, with_values)]


def _text_build(spark, partitions):
    gen = DataGenerator(spark, name="text_golden", rows=3000, partitions=partitions,
                        randomSeed=2024)
    gen.withColumn("phone", "string", template="ddd-ddd-dddd")
    gen.withColumn("email", "string", template=r"\w.\w@\w.com")
    gen.withColumn("code", "string", template="KKKK-dddd|AAAA-Dddd")
    gen.withColumn("body", "string", text=ILText(paragraphs=1, sentences=(1, 3), words=(4, 8)))
    return gen.build()


@pytest.mark.parametrize("ansi", ["false", "true"], ids=["ansi_off", "ansi_on"])
def test_v0_text_build_golden(spark, ansi):
    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        for partitions in (3, 7):
            df = _text_build(spark, partitions)
            row = df.agg(
                F.count(F.lit(1)),
                *[F.sum(F.xxhash64(c).cast("decimal(38,0)")) for c in df.columns],
            ).first()
            assert [str(x) for x in row] == GOLDEN_BUILD, partitions
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)


def test_expand_iltext_memory_is_bounded():
    """Long sentences must not materialize a rows x max-words draw matrix:
    the output alone is ~20 MiB of characters here, a matrix ~300 MiB."""
    tracemalloc.start()
    try:
        out = expand_iltext(SEEDS, (1, 1), (1, 2), (1, 2000))
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert len(out) == N_SEEDS
    assert peak <= 64 * 2**20, f"peak {peak / 2**20:.1f} MiB"


def _iltext_loop(useeds, paragraphs, sentences, words):
    """Row-at-a-time ILText: the reference the vectorized form must equal."""
    nw = len(LOREM_WORDS)
    out = []
    for seed in useeds:
        s = np.uint64(seed)

        def count(slot, lo, hi):
            return int(_mix(np.array([s ^ np.uint64(slot)]))[0] % np.uint64(hi - lo + 1)) + lo

        n_par = count(1, *paragraphs)
        slot = 2
        pieces = []
        for _ in range(n_par):
            n_sent = count(slot, *sentences)
            slot += 1
            sents = []
            for _ in range(n_sent):
                n_words = count(slot, *words)
                slot += 1
                idx = _mix(s ^ (np.arange(slot, slot + n_words, dtype=np.uint64)
                                * np.uint64(0x9E3779B97F4A7C15))) % np.uint64(nw)
                slot += n_words
                sent = " ".join(LOREM_WORDS[i] for i in idx.astype(np.int64))
                sents.append(sent[0].upper() + sent[1:] + ".")
            pieces.append(" ".join(sents))
        out.append("\n\n".join(pieces))
    return out


@pytest.mark.parametrize("case", range(8))
def test_expand_iltext_matches_row_loop(case):
    rng = np.random.default_rng(case)
    ranges = []
    for hi_cap in (3, 4, 12):
        lo = int(rng.integers(1, hi_cap))
        ranges.append((lo, lo + int(rng.integers(0, hi_cap))))
    seeds = rng.integers(0, 2**64, size=300, dtype=np.uint64, endpoint=False)
    seeds[:2] = [0, 2**64 - 1]
    assert list(expand_iltext(seeds, *ranges)) == _iltext_loop(seeds, *ranges), ranges


def test_base_value_keeps_trailing_nul(spark):
    """Object concatenation keeps a base value's trailing NUL, like the
    pure-Catalyst template path (fixed-width numpy strings dropped it)."""
    values = pd.Series(["a\x00", "b\x00\x00", "c"])
    compiled = compile_template(r"=\v")
    got = list(expand_templates(compiled, np.arange(3, dtype=np.int64), values))
    assert got == ["=a\x00", "=b\x00\x00", "=c"]

    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "seed long, v string")
    rows = df.select(
        template_udf_expr(r"=\v", F.col("seed"), F.col("v")).alias("udf"),
        template_expr(r"=\v", F.col("seed"), F.col("v")).alias("expr"),
    ).orderBy(F.col("udf")).collect()
    assert [(r.udf, r.expr) for r in rows] == [(g, g) for g in got]
