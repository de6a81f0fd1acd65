"""Plan-shape regression tests: the shuffle/Python-boundary budgets that
PLANS.md documents are enforced here so they can't silently regress.

Two invariants:

* NO query ever plans a per-row Python op (``BatchEvalPython``) — the
  input_hint requires Arrow-batched boundaries only; a stray row-at-a-time
  UDF is a 10-100x regression at 100 TB and invisible to result checks.
* Cache-independent queries keep their documented exchange budget (counts
  for the merged-graph-cached kg_* queries shift with InMemoryTableScan
  boundaries across a shared session, so those are audited out-of-process
  by scripts/plan_audit.py instead).

Plans are built at sf0.001 — plan shape is scale-invariant; data never
executes (explain only).
"""

import io
import re
from contextlib import redirect_stdout

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


def _ops(df) -> list[str]:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return re.findall(
        r"^\(\d+\) (\w[\w ]*?)\s*(?:\[codegen id : \d+\])?\s*$",
        buf.getvalue(),
        re.MULTILINE,
    )


# query -> max allowed Exchange count (shuffles; BroadcastExchange excluded).
# These are cache-independent plans: map-only ops, relational queries over
# the driver parquet, and the extract->merge head of the harvest.
EXCHANGE_BUDGET = {
    "kg_harvest_triples": 1,  # the set-union dedup groupBy; extract is map-only
    "sample_stratified": 0,  # Bernoulli sha-bucket filter: map-side only
    "sample_weighted": 0,  # per-row weighted Bernoulli: map-side only
    "rel_events_sessionize": 1,  # one window partitioning
    "rel_events_asof": 1,  # union-window as-of join: the one hash partition
    "rel_events_in_windows": 2,  # broadcast bin equi-join + rollup agg
    "rel_pricing_summary": 1,  # single groupBy
    "dedup_exact": 2,  # group hash + two-stage sample top-k
    "corpus_shuffle_shards": 1,  # map-side shard assign + one manifest agg
    "dedup_boilerplate": 3,  # freq agg (count_distinct expand = 2) + regroup
    "pack_sequences": 5,  # range + window hash (x2 branches pre-reuse) + sliver
    "pack_manifest": 5,  # map-side explode: zero on top of pack_sequences
    "rel_events_sessions": 1,  # one user_id partition into SessionWindow
    "rel_events_attribution": 1,  # equi-key + range predicate (broadcast at sf)
    "conv_sft_pairs": 1,  # one conv_id window partitioning
    "conv_dup_groups": 2,  # conv fingerprint agg + fp group agg
    "sketch_quantile_doclen": 1,  # approx+exact percentiles in ONE groupBy
    "conv_sft_pack_masks": 9,  # pairs window + packing prefix sum + join
    "dedup_span_scrub": 3,  # hot-window countDistinct expand + per-doc starts agg; windows hashed in-array map-side
}


@pytest.fixture(scope="module")
def queries():
    return entrymod.queries()


@pytest.mark.parametrize("name", sorted(EXCHANGE_BUDGET))
def test_exchange_budget(spark, queries, name):
    ops = _ops(queries[name](spark, SF_DIR))
    n_ex = sum(1 for o in ops if o == "Exchange")
    assert n_ex <= EXCHANGE_BUDGET[name], (
        f"{name}: {n_ex} exchanges (budget {EXCHANGE_BUDGET[name]}) — a new "
        f"shuffle crept into the plan; ops={ops}"
    )


# plans that read the reference checkout's shapes file or sample documents
REFERENCE_PLANS = (
    "kg_harvest_rdf_docs",
    "kg_validation_full_shapes",
    "kg_validation_full_shapes_incremental",
)


def _per_row_python_offenders(spark, queries, names) -> dict:
    offenders = {}
    for name in names:
        try:
            ops = _ops(queries[name](spark, SF_DIR))
        except Exception as exc:  # pragma: no cover — surface as failure
            offenders[name] = f"plan build failed: {exc}"
            continue
        if any(o == "BatchEvalPython" for o in ops):
            offenders[name] = "BatchEvalPython in plan"
    return offenders


def test_no_per_row_python_anywhere(spark, queries):
    """input_hint invariant: every Python boundary is Arrow-batched."""
    names = [n for n in queries if n not in REFERENCE_PLANS]
    offenders = _per_row_python_offenders(spark, queries, names)
    assert not offenders, offenders


def test_no_per_row_python_in_reference_plans(spark, queries):
    """The same invariant on the plans that need the reference checkout;
    without it they cannot be planned and this test fails."""
    offenders = _per_row_python_offenders(spark, queries, REFERENCE_PLANS)
    assert not offenders, offenders


def test_quarantine_plan_skips_typed_subjects(spark, tmp_path):
    """The valid_triples quarantine reads only the report's subjects: the
    ~conforms filter prunes the verdicts' typed-subject branch, so no
    aggregate of every typed subject is shuffled and broadcast.  The graph
    is read back from parquet, as the harvest reads its triples snapshot;
    the shared cached merged graph would add exchanges that depend on
    whether an earlier test executed it."""
    from breg_dcat_harvester_spark.operators.validate import (
        conforms_column,
        partition_valid,
    )

    entrymod._merged(spark, SF_DIR).write.parquet(str(tmp_path / "triples"))
    triples = spark.read.parquet(str(tmp_path / "triples"))
    ops = _ops(partition_valid(triples, conforms_column(triples))[1])
    n_ex = sum(1 for o in ops if o == "Exchange")
    n_bx = sum(1 for o in ops if o == "BroadcastExchange")
    assert n_ex <= 3 and n_bx <= 1, f"{n_ex} exchanges, {n_bx} broadcasts; ops={ops}"
