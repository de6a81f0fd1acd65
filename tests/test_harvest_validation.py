"""Harvest-level validation with planted violations (P1-P3).

A tiny hand-written corpus plants one Catalog with two dct:identifiers and
one Agent without foaf:name (both Violations), and one Dataset with two
dct:identifiers (a Warning).  The harvest must quarantine exactly their
edges, strict mode must add the Warning Dataset, all-or-nothing must abort
the valid_triples stage, and harvest_increment must flip verdicts both
ways.
"""

import os

import numpy as np
import pandas as pd
import pytest

from breg_dcat_harvester_spark.datagen import write_transcripts_parquet
from breg_dcat_harvester_spark.plans.harvest import (
    HarvestConfig,
    harvest_increment,
    run_harvest,
)
from breg_dcat_harvester_spark.plans.jobs import RunLog
from breg_dcat_harvester_spark.schema import BREG_NS
from breg_dcat_harvester_spark.storage import LocalSnapshotTable

TERMS = ["subj", "pred", "obj", "obj_kind", "lang", "dtype"]

BASE = [
    ("c1", "[[Catalog|id=cat-ok|description=d|identifier=C1|title=Open catalog"
           "|publisher=#ag-ok]] [[Agent|id=ag-ok|name=Good agent]]"),
    ("c1", "[[Catalog|id=cat-bad|description=d|identifier=C2|title=Bad catalog"
           "|publisher=#ag-ok]] [[Agent|id=ag-bad|title=Nameless]]"),
    ("c2", "[[Catalog|id=cat-bad|identifier=C3]]"
           " [[Dataset|id=ds-warn|identifier=D1|title=Warned data]]"),
    ("c2", "[[Dataset|id=ds-warn|identifier=D2]]"
           " [[Catalog|id=cat-flip|description=d|identifier=C4|title=Flip catalog"
           "|publisher=#ag-ok]]"),
]
# a shard that names ag-bad (quarantine -> valid) and gives cat-flip a
# second identifier (valid -> quarantine)
SHARD = [
    ("c3", "[[Agent|id=ag-bad|name=Named at last]]"),
    ("c3", "[[Catalog|id=cat-flip|identifier=C5]]"),
]


def _uri(local: str) -> str:
    return BREG_NS + local


def _write(path: str, turns) -> str:
    pdf = pd.DataFrame({
        "conv_id": [c for c, _ in turns],
        "turn_idx": np.arange(len(turns), dtype="int32"),
        "role": "tool",
        "text": [t for _, t in turns],
        "tool": "fetch",
        "ts": pd.Timestamp("2026-01-01"),
    })
    return write_transcripts_parquet(pdf, path)


def _table(out_dir: str, name: str) -> LocalSnapshotTable:
    return LocalSnapshotTable(os.path.join(out_dir, name))


def _terms(spark, out_dir: str, name: str) -> set:
    df = _table(out_dir, name).read(spark).select(*TERMS)
    return {tuple(r) for r in df.collect()}


def _subjects(rows: set) -> set:
    return {r[0] for r in rows}


@pytest.fixture(scope="module")
def base_src(tmp_path_factory):
    return _write(str(tmp_path_factory.mktemp("base")), BASE)


def test_harvest_quarantines_planted_violations(spark, tmp_path, base_src):
    out = str(tmp_path / "lenient")
    run_harvest(spark, base_src, HarvestConfig(out_dir=out), run_id="lenient")
    triples = _terms(spark, out, "triples")
    quarantine = _terms(spark, out, "quarantine")
    valid = _terms(spark, out, "valid_triples")

    bad = {_uri("cat-bad"), _uri("ag-bad")}
    assert _subjects(quarantine) == bad
    assert quarantine == {t for t in triples if t[0] in bad}
    assert valid == triples - quarantine
    assert _uri("ds-warn") in _subjects(valid)

    strict = str(tmp_path / "strict")
    run_harvest(
        spark, base_src, HarvestConfig(out_dir=strict, strict_validation=True),
        run_id="strict",
    )
    assert _subjects(_terms(spark, strict, "quarantine")) == bad | {_uri("ds-warn")}
    assert _uri("ds-warn") not in _subjects(_terms(spark, strict, "valid_triples"))


def test_all_or_nothing_aborts_the_stage(spark, tmp_path, base_src):
    out = str(tmp_path / "gated")
    cfg = HarvestConfig(out_dir=out, all_or_nothing=True)
    with pytest.raises(ValueError, match=r"Invalid entities found \(n=2\)"):
        run_harvest(spark, base_src, cfg, run_id="gated")
    runs = RunLog(spark, os.path.join(out, "runs")).read()
    failed = runs.filter("status = 'failed'").collect()
    assert [r.stage for r in failed] == ["valid_triples"]
    assert "Invalid entities" in failed[0].exc_info
    assert _table(out, "valid_triples").current_snapshot() is None


@pytest.mark.slow
def test_harvest_increment_flips_verdicts(spark, tmp_path, base_src):
    shard_src = _write(str(tmp_path / "shard"), SHARD)
    all_src = _write(str(tmp_path / "all"), BASE + SHARD)

    base = str(tmp_path / "base")
    run_harvest(spark, base_src, HarvestConfig(out_dir=base), run_id="base")
    assert _subjects(_terms(spark, base, "quarantine")) == {
        _uri("cat-bad"), _uri("ag-bad"),
    }
    assert _uri("cat-flip") in _subjects(_terms(spark, base, "valid_triples"))

    inc = str(tmp_path / "inc")
    harvest_increment(spark, base, shard_src, HarvestConfig(out_dir=inc), run_id="inc")
    quarantine = _terms(spark, inc, "quarantine")
    valid = _terms(spark, inc, "valid_triples")
    # ag-bad: quarantine -> valid; cat-flip: valid -> quarantine
    assert _subjects(quarantine) == {_uri("cat-bad"), _uri("cat-flip")}
    assert _uri("ag-bad") in _subjects(valid)
    assert not _subjects(valid) & _subjects(quarantine)

    batch = str(tmp_path / "batch")
    run_harvest(spark, all_src, HarvestConfig(out_dir=batch), run_id="batch")
    assert quarantine == _terms(spark, batch, "quarantine")
    assert valid == _terms(spark, batch, "valid_triples")
