"""Seeded fuzz: adversarial random transcripts through the extractor
(coded mapInArrow kernel + JVM-side decode) against the pure-Python oracle.

The deterministic datagen corpus is well-formed by construction; this test
hammers the grammar's edge cases — malformed blocks, empty ids, unknown
tags, unicode, pipes/equals in values, blank-node ids, missing role/tool,
several blocks per turn — and asserts exact equality of all six term
columns with the oracle (the property the P/R gate measures on nice inputs
must also hold on nasty ones).
"""

import collections
import datetime as dt
import random

from breg_dcat_harvester_spark.operators.extract import (
    CODED_EDGES,
    _extract_arrow_core,
    decode_coded_edges,
    extract_edges,
)
from breg_dcat_harvester_spark.schema import TRANSCRIPTS

from . import oracle

TAGS = ["Catalog", "Dataset", "Agent", "Distribution", "nonsense", ""]
KEYS = ["id", "title", "description", "name", "theme", "bogus", ""]
VALUES = [
    "plain",
    "",
    "#frag",
    "http://x.org/a",
    "urn:y:z",
    "with space",
    "unié中文",
    "tr]icky",
    "a=b",
    "_:b0",
]


def _rand_text(rng: random.Random) -> str:
    parts = []
    for _ in range(rng.randint(0, 4)):
        kind = rng.random()
        if kind < 0.15:
            parts.append("noise [[broken")  # unterminated
        elif kind < 0.25:
            parts.append("]] stray close")
        else:
            tag = rng.choice(TAGS)
            fields = [tag]
            if rng.random() < 0.9:
                fields.append(f"id={rng.choice(['e1', 'e2', '_:b0', ''])}")
            for _ in range(rng.randint(0, 3)):
                fields.append(f"{rng.choice(KEYS)}={rng.choice(VALUES)}")
            if rng.random() < 0.1:
                fields.append("keyonly")  # kv without '='
            parts.append("[[" + "|".join(fields) + "]]")
        parts.append(rng.choice(["text", "", "你好", "[ ] | = "]))
    return " ".join(parts)


def test_fuzz_three_way_equality(spark):
    rng = random.Random(20260816)
    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (
            f"c{i % 17}",
            i,
            rng.choice(["user", "assistant", None]),
            _rand_text(rng),
            rng.choice(["search", None]),
            t0 + dt.timedelta(seconds=i),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, TRANSCRIPTS)

    got = {
        tuple(r)
        for r in extract_edges(df)
        .select("subj", "pred", "obj", "obj_kind", "lang", "dtype")
        .collect()
    }
    expected = {
        t
        for conv_id, turn_idx, role, text, tool, _ts in rows
        for t in oracle.extract_row_terms(conv_id, turn_idx, role, text, tool)
    }
    assert got == expected, (
        f"spark-only: {list(got - expected)[:3]} "
        f"oracle-only: {list(expected - got)[:3]}"
    )
    assert len(expected) > 100, "fuzz corpus should produce a real triple set"


def test_fuzz_arrow_vs_pandas_batch(spark):
    """Batch-level equality INCLUDING lineage and multiplicity (the
    spark-level fuzz compares term sets only): the Arrow kernel's coded rows,
    decoded by ``decode_coded_edges``, against the oracle row by row.  The
    kernel runs on one local batch, so this affords many more rows;
    exercises multi-opener turns, null text, and the trailing-newline value
    semantics the RE2 kernels must reproduce."""
    import pyarrow as pa

    rng = random.Random(20260818)
    texts = []
    for i in range(3000):
        t = _rand_text(rng)
        if rng.random() < 0.05:
            t = None
        elif rng.random() < 0.1:
            t += "|title=v\n"  # trailing newline inside a non-block tail
        texts.append(t)
    # explicit adversarial rows for the RE2/python-re seams
    texts += [
        "[[Agent|id=a|name=v\n]]x",      # value with ONE trailing newline
        "[[Agent|id=a|name=v\n\n]]x",    # two newlines -> dropped value
        "[[Agent|id=a|name=v\nw]]",      # interior newline -> dropped value
        "[[[Agent|id=a|name=n]]",        # overlapping openers, one match
        "[[Agent|id=a]] [[Dataset|id=d|title=T]] [[Agent|id=_:b|name=N]]",
    ]
    n = len(texts)
    conv = [f"c{i % 13}" for i in range(n)]
    role = [random.Random(i).choice(["user", "asst", None]) for i in range(n)]
    tool = [random.Random(i + 1).choice(["search", None]) for i in range(n)]
    for ep in (True, False):
        coded = _extract_arrow_core(
            pa.array(texts, pa.string()),
            pa.array(conv, pa.string()),
            pa.array(range(n), pa.int32()),
            pa.array(role, pa.string()),
            pa.array(tool, pa.string()),
            emit_provenance=ep,
        )
        assert [str(t) for t in coded.schema.types] == [
            "string", "int32", "string", "string", "int32"
        ]
        decoded = decode_coded_edges(
            spark.createDataFrame(coded.to_pandas(), schema=CODED_EDGES)
        )
        got = collections.Counter(map(tuple, decoded.collect()))
        expected = collections.Counter(
            (*t, conv[i], i)
            for i in range(n)
            for t in oracle.extract_row_terms(
                conv[i], i, role[i], texts[i], tool[i], emit_provenance=ep
            )
        )
        assert got == expected, (
            f"emit_provenance={ep}: kernel-only {list((got - expected).items())[:3]} "
            f"oracle-only {list((expected - got).items())[:3]}"
        )
    assert sum(got.values()) > 500
