"""Spans around the package's public functions, plus Spark's own counters.

A traced run patches the functions each layer exposes (module attributes
and class methods that ``plans.harvest`` and the browse calls resolve at
call time) with wrappers that record a span — name, layer, start, end,
parent — and set a Spark job group named after the span.  After each timed
operation, ``SparkCounters`` reads the jobs of those groups from the
AppStatusStore (stage run time, shuffle, spill, input bytes, task times)
and the SQL status store (per-node plan metrics, which carry the
MapInArrow Python-boundary metrics), and charges them to the innermost
span's layer.  Nothing in the package changes.

DataFrames are lazy: a builder span (``extract_edges``, ``link_pairs``, …)
covers planning, and the ``storage.write`` span of the table the stage
produces covers execution.  Both are charged to the producing layer.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time

from py4j.protocol import Py4JJavaError

# table directory name -> layer that produces it (runs/metrics are the
# job control plane's own tables)
TABLE_LAYER = {
    "edges_raw": "extract",
    "triples": "merge",
    "quarantine": "validate",
    "valid_triples": "validate",
    "links": "link",
    "cc_labels": "cc.labels",
    "edges": "cc.canonicalize",
    "nodes": "cc.nodes",
    "lineage": "export",
    "runs": "jobs",
    "metrics": "jobs",
}

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def parse_sql_metric(text: str) -> float:
    """Value of a SQL UI metric string, in seconds or bytes.

    Multi-task metrics read ``total (min, med, max (stageId: taskId))`` on
    the first line and ``10.6 s (2.6 s, ...)`` on the second; the total is
    the first token pair of the last line.
    """
    line = text.strip().splitlines()[-1]
    parts = line.split(" (")[0].split()
    value = float(parts[0].replace(",", ""))
    return value * _UNITS[parts[1]] if len(parts) > 1 else value


class Tracer:
    """In-memory span recorder; spans are written out when the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self.next_id = 0
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _set_group(self) -> None:
        if self.stack:
            top = self.stack[-1]
            self.sc.setJobGroup(f"kgb-{top['id']}", top["name"], False)
        else:
            self.sc._jsc.clearJobGroup()

    def open(self, name: str, layer: str, **attrs) -> dict:
        t_in = time.perf_counter()
        rec = {
            "id": self.next_id,
            "name": name,
            "layer": layer,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "attrs": attrs,
        }
        self.next_id += 1
        self.stack.append(rec)
        self._set_group()
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        return rec

    def close(self, rec: dict, end: float | None = None) -> None:
        rec["end"] = time.perf_counter() if end is None else end
        t_in = time.perf_counter()
        self.stack.remove(rec)
        self._set_group()
        self.spans.append(rec)
        self.overhead_s += time.perf_counter() - t_in

    # -- patching ------------------------------------------------------------

    def patch(self, owner, attr: str, name: str, layer, on_return=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.

        ``layer`` is a string or a function of the call's arguments;
        ``on_return(rec, args, result)`` may add attributes to the span.
        """
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            lay = layer(*args, **kwargs) if callable(layer) else layer
            rec = tracer.open(name, lay)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer.close(rec)
            if on_return is not None:
                t_in = time.perf_counter()
                on_return(rec, args, out)
                tracer.overhead_s += time.perf_counter() - t_in
            return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def install_harvest(self) -> None:
        """Wrap every layer function ``run_harvest`` calls into."""
        from breg_dcat_harvester_spark import storage
        from breg_dcat_harvester_spark.operators import cc as ccm
        from breg_dcat_harvester_spark.operators import export
        from breg_dcat_harvester_spark.operators import link as lnk
        from breg_dcat_harvester_spark.plans import harvest, jobs

        # imported by name into plans.harvest: patch that namespace
        self.patch(harvest, "extract_edges", "extract_edges", "extract")
        self.patch(harvest, "merge_triples", "merge_triples", "merge")
        self.patch(harvest, "conforms_column", "conforms_column", "validate")
        self.patch(harvest, "partition_valid", "partition_valid", "validate")
        self.patch(harvest, "num_triples", "num_triples", "harvest")
        # module attributes, resolved at call time
        self.patch(lnk, "link_pairs", "link_pairs", "link")
        self.patch(
            lnk, "score_candidates", "score_candidates", "link",
            on_return=lambda rec, args, out: rec["attrs"].update(
                candidates_df=args[0]
            ),
        )
        self.patch(ccm, "connected_components", "connected_components", "cc.labels")
        self.patch(ccm, "canonicalize_edges", "canonicalize_edges", "cc.canonicalize")
        self.patch(ccm, "build_nodes", "build_nodes", "cc.nodes")
        self.patch(export, "partition_lineage", "partition_lineage", "export")

        def write_layer(table, df, mode="overwrite"):
            parent = self.stack[-1] if self.stack else None
            if parent is not None and parent["layer"] == "jobs":
                return "jobs"
            return TABLE_LAYER.get(os.path.basename(table.path), "storage")

        def write_files(rec, args, sid):
            table = args[0]
            snaps = {s["id"]: s for s in table.snapshots()}
            snap = snaps[sid]
            parent = snaps.get(snap["parent"]) if snap["mode"] == "append" else None
            new = set(snap["files"]) - set(parent["files"] if parent else [])
            rec["attrs"].update(
                table=os.path.basename(table.path),
                files=len(new),
                bytes=sum(
                    os.path.getsize(os.path.join(table.data_dir, f)) for f in new
                ),
            )

        self.patch(
            storage.LocalSnapshotTable, "write", "storage.write", write_layer,
            on_return=write_files,
        )
        self.patch(storage.LocalSnapshotTable, "read", "storage.read", "storage")
        self.patch(jobs.RunLog, "snapshot_for", "runlog.snapshot_for", "jobs")
        self.patch(jobs.MetricsLog, "record_partitions", "metrics.record_partitions", "jobs")
        self._patch_runlog_record(jobs.RunLog)

    def _patch_runlog_record(self, runlog_cls) -> None:
        """``RunLog.record(run_id, stage, 'started')`` opens the stage span
        and ``'finished'``/``'failed'`` closes it, at the same instants the
        harvest's own ``stages`` seconds are taken (before the start record,
        before the finish record)."""
        orig = runlog_cls.record
        tracer = self
        open_stages: dict[str, dict] = {}

        @functools.wraps(orig)
        def record(rl, run_id, stage, status, *args, **kwargs):
            now = time.perf_counter()
            if status == "started":
                open_stages[stage] = tracer.open(f"stage:{stage}", "stage", stage=stage)
                open_stages[stage]["start"] = now
            elif stage in open_stages:
                tracer.close(open_stages.pop(stage), end=now)
            rec = tracer.open("runlog.record", "jobs", stage=stage, status=status)
            try:
                return orig(rl, run_id, stage, status, *args, **kwargs)
            finally:
                tracer.close(rec)

        runlog_cls.record = record
        self._undo.append((runlog_cls, "record", orig))

    def install_browse(self) -> None:
        from breg_dcat_harvester_spark import storage
        from breg_dcat_harvester_spark.operators import facets, labels, search
        from breg_dcat_harvester_spark.plans import sparql

        self.patch(facets, "all_facets", "all_facets", "facets")
        self.patch(search, "search_datasets", "search_datasets", "search")
        self.patch(search, "dataset_details_nested", "dataset_details_nested", "search")
        self.patch(sparql, "compile_query", "compile_query", "sparql")
        self.patch(labels, "build_labels_table", "build_labels_table", "labels")
        self.patch(labels, "enrich_terms", "enrich_terms", "labels")
        self.patch(storage.LocalSnapshotTable, "read", "storage.read", "storage")

    # -- queries over recorded spans ------------------------------------------

    def since(self, first_id: int) -> list[dict]:
        return [s for s in self.spans if s["id"] >= first_id]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                attrs = {
                    k: v for k, v in s["attrs"].items() if k != "candidates_df"
                }
                fh.write(json.dumps({**s, "attrs": attrs}) + "\n")


def dur(span: dict) -> float:
    return span["end"] - span["start"]


def layer_seconds(spans: list[dict], layer: str) -> float:
    """Wall seconds of a layer: its spans not nested in a span of the same
    layer (a layer's nested calls are already inside the outer span)."""
    by_id = {s["id"]: s for s in spans}
    total = 0.0
    for s in spans:
        if s["layer"] != layer:
            continue
        p = by_id.get(s["parent"])
        if p is not None and p["layer"] == layer:
            continue
        total += dur(s)
    return total


class SparkCounters:
    """Per-layer Spark counters, read per job group after each operation."""

    PY_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython")
    PY_METRICS = {
        "time to start Python workers": "python_boot_s",
        "time to initialize Python workers": "python_init_s",
        "time to run Python workers": "python_s",
        "data sent to Python workers": "python_bytes_in",
        "data returned from Python workers": "python_bytes_out",
        "number of output rows": "python_rows_out",
    }

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.seen_jobs: set[int] = set()
        self.seen_execs: set[int] = set()

    def collect(self, layer_of_group: dict[str, str], skew_layers=()) -> dict:
        """{layer: {counter: value}} for jobs not read before."""
        out: dict[str, dict[str, float]] = {}
        job_layer: dict[int, str] = {}

        def add(layer, key, value):
            d = out.setdefault(layer, {})
            d[key] = d.get(key, 0.0) + value

        it = self.store.jobsList(None).iterator()
        jobs = []
        while it.hasNext():
            jobs.append(it.next())
        for job in jobs:
            jid = job.jobId()
            if jid in self.seen_jobs:
                continue
            self.seen_jobs.add(jid)
            group = job.jobGroup()
            layer = layer_of_group.get(group.get() if group.isDefined() else "", "untraced")
            job_layer[jid] = layer
            add(layer, "jobs", 1)
            sids = job.stageIds()
            for k in range(sids.size()):
                try:
                    st = self.store.lastStageAttempt(sids.apply(k))
                except Py4JJavaError:  # skipped stage: never ran
                    continue
                add(layer, "run_s", st.executorRunTime() / 1000.0)
                add(layer, "shuffle_write_bytes", st.shuffleWriteBytes())
                add(layer, "spill_bytes", st.memoryBytesSpilled() + st.diskBytesSpilled())
                add(layer, "scan_bytes", st.inputBytes())
                if layer in skew_layers:
                    self._skew(out.setdefault(layer, {}), st)
        ex = self.sql.executionsList()
        for i in range(ex.size()):
            e = ex.apply(i)
            eid = e.executionId()
            if eid in self.seen_execs:
                continue
            self.seen_execs.add(eid)
            it = e.jobs().keysIterator()
            layers = set()
            while it.hasNext():
                layers.add(job_layer.get(int(it.next()), None))
            layers.discard(None)
            if len(layers) != 1:
                continue
            layer = layers.pop()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if not node.name().startswith(self.PY_NODES):
                    continue
                ms = node.metrics()
                for q in range(ms.size()):
                    m = ms.apply(q)
                    key = self.PY_METRICS.get(m.name())
                    v = values.get(m.accumulatorId())
                    if key and v.isDefined():
                        add(layer, key, parse_sql_metric(v.get()))
        return out

    def _skew(self, counters: dict, st) -> None:
        """max/median task duration of the layer's busiest stage."""
        run = st.executorRunTime()
        if run <= counters.get("_skew_run", -1):
            return
        tasks = self.store.taskList(st.stageId(), st.attemptId(), 100000)
        durs = [
            tasks.apply(i).duration().get()
            for i in range(tasks.size())
            if tasks.apply(i).duration().isDefined()
        ]
        med = statistics.median(durs) if durs else 0
        if med > 0:
            counters["_skew_run"] = run
            counters["task_skew"] = max(durs) / med

    def storage_state(self) -> tuple[int, float]:
        """(persisted RDD count, cached MB) held by the session right now."""
        n = self.sc._jsc.getPersistentRDDs().size()
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        return n, mb
