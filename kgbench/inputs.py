"""Seeded inputs: the transcript corpus and the browse request sequence.

Everything here is a pure function of the seed, so the same seed gives the
same corpus and the same requests.  The program receives only the generated
inputs (a parquet transcript table; request parameters).
"""

from __future__ import annotations

import numpy as np

from breg_dcat_harvester_spark import datagen
from breg_dcat_harvester_spark.plans import sparql
from breg_dcat_harvester_spark.schema import BREG_NS

# Corpus size: one cold harvest fits a run.  At this size fixed per-stage
# and JVM warm-up work dominate: in a traced 35.8 s cold harvest on a
# 4-core host, extract, merge and link took 9.0 s together.
N_TURNS = 4000

# facet filter universes (the values the generator plants in the graph)
FILTER_VALUES = {
    "theme": datagen.THEMES,
    "location": datagen.LOCATIONS,
    "language": datagen.LANGUAGES,
    "publisherType": datagen.PUBLISHER_TYPES,
}

# one browse round: browser.py's read API as 1 facets, 2 search + detail,
# 2 SPARQL (one reference facet query, one templated search or detail
# query) and 1 label resolution.  Every round has exactly this composition;
# the seed orders it and draws the parameters.
ROUND = ["facets", "search", "search", "sparql-facet", "sparql-builder", "labels"]


def corpus(seed: int, n_turns: int = N_TURNS):
    return datagen.gen_transcripts(n_turns, seed=seed)


def _zipf_pick(rng: np.random.Generator, values: list, order: np.ndarray, k: int = 1):
    """k distinct values, Zipf-weighted over a seeded popularity order."""
    w = 1.0 / (np.arange(1, len(values) + 1) ** 1.5)
    idx = rng.choice(len(values), size=min(k, len(values)), replace=False, p=w / w.sum())
    return sorted(values[order[i]] for i in idx)


class RequestMix:
    """Endless seeded browse request sequence.

    Each request is ``(kind, key, params)``; ``key`` identifies the request
    so repeats share one correctness check.  Filters are 0-3 facet keys
    with 1-2 values each, Zipf-weighted so popular requests repeat.
    """

    def __init__(self, seed: int, n_turns: int = N_TURNS):
        self.rng = np.random.default_rng([seed, 7])
        self.order = {
            k: self.rng.permutation(len(v)) for k, v in FILTER_VALUES.items()
        }
        n_datasets = len(datagen.build_entities(n_turns)["dataset"])
        self.datasets = [f"{BREG_NS}dataset-{i:05d}" for i in range(n_datasets)]
        self.dataset_order = self.rng.permutation(n_datasets)

    def _filters(self) -> dict[str, list[str]]:
        n = int(self.rng.choice(4, p=[0.3, 0.35, 0.25, 0.1]))
        keys = sorted(self.rng.choice(sorted(FILTER_VALUES), size=n, replace=False))
        return {
            k: _zipf_pick(self.rng, FILTER_VALUES[k], self.order[k], 1 + int(self.rng.random() < 0.3))
            for k in keys
        }

    def _search_query(self) -> tuple[str, str]:
        f = self._filters()
        return f"sparql-search:{sorted(f.items())}", sparql.build_search_query(f, 200)

    def _detail_query(self) -> tuple[str, str]:
        uris = _zipf_pick(
            self.rng, self.datasets, self.dataset_order, 1 + int(self.rng.integers(3))
        )
        return f"sparql-detail:{uris}", sparql.build_detail_query(uris)

    def request(self, shape: str) -> tuple[str, str, object]:
        """``(kind, key, params)`` of one request of the given shape."""
        if shape == "search":
            f = self._filters()
            return "search", f"search:{sorted(f.items())}", f
        if shape == "sparql-facet":
            name = sorted(sparql.REFERENCE_FACET_QUERIES)[int(self.rng.integers(5))]
            return "sparql", f"sparql-facet:{name}", sparql.REFERENCE_FACET_QUERIES[name]
        if shape == "sparql-builder":
            key, text = self._search_query() if self.rng.random() < 0.5 else self._detail_query()
            return "sparql", key, text
        return shape, shape, None

    def round(self) -> list[tuple[str, str, object]]:
        return [self.request(str(shape)) for shape in self.rng.permutation(ROUND)]
