"""Snapshot-versioned table storage (S6/S7; SURVEY.md §7 head).

The reference's sink is a SPARQLUpdateStore (Virtuoso) with atomic-ish INSERT
batches (store.py:43-54).  Ours targets Iceberg on a real cluster — atomic
snapshot commits, time travel, rollback — and falls back locally to
partitioned parquet plus a JSON *manifest* that reproduces the snapshot
semantics we rely on:

* every write (append/overwrite) creates a new immutable snapshot listing
  its data files; readers pin a snapshot -> snapshot-isolated scans (the
  reference's read-mode toggle S7 becomes unnecessary by construction);
* ``rollback`` moves the current pointer (harvest all-or-nothing semantics:
  a failed run's partial output is never current);
* snapshot ids are the checkpoint/resume tokens recorded in the runs table
  (north_rule "resumable from Iceberg snapshot checkpoints");
* each snapshot records its schema, as Iceberg table metadata does, so
  planning a read starts no Spark job (no parquet footer inference).  An
  append that changes the schema records none, and its reads infer it.

The two backends expose one API; cluster deployments flip ``use_iceberg``
(catalog configured via spark.sql.catalog.*) without touching pipeline code.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _as_nullable(dtype):
    """Spark's ``asNullable`` on a data type's JSON form: parquet reads
    every field, array element and map value back as nullable."""
    if not isinstance(dtype, dict):
        return dtype
    kind = dtype["type"]
    if kind == "struct":
        return {**dtype, "fields": [
            {**f, "nullable": True, "type": _as_nullable(f["type"])}
            for f in dtype["fields"]
        ]}
    if kind == "array":
        return {**dtype, "containsNull": True,
                "elementType": _as_nullable(dtype["elementType"])}
    if kind == "map":
        return {**dtype, "valueContainsNull": True,
                "keyType": _as_nullable(dtype["keyType"]),
                "valueType": _as_nullable(dtype["valueType"])}
    return dtype


class LocalSnapshotTable:
    """Parquet + JSON-manifest table with Iceberg-like snapshot semantics."""

    def __init__(self, path: str):
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.manifest_path = os.path.join(path, "manifest.json")
        os.makedirs(self.data_dir, exist_ok=True)

    # -- manifest ------------------------------------------------------------

    def _load(self) -> dict:
        if not os.path.exists(self.manifest_path):
            return {"snapshots": [], "current": None}
        with open(self.manifest_path) as fh:
            return json.load(fh)

    def _store(self, manifest: dict) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1)
        os.replace(tmp, self.manifest_path)  # atomic commit

    def snapshots(self) -> list[dict]:
        return self._load()["snapshots"]

    def current_snapshot(self) -> str | None:
        return self._load()["current"]

    def _snapshot(self, manifest: dict, snapshot_id: str | None) -> dict | None:
        sid = snapshot_id or manifest["current"]
        for s in manifest["snapshots"]:
            if s["id"] == sid:
                return s
        return None

    # -- write/read ----------------------------------------------------------

    def write(self, df: DataFrame, mode: str = "overwrite") -> str:
        """Write df as a new snapshot; returns the snapshot id."""
        assert mode in ("overwrite", "append")
        staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
        try:
            df.write.mode("overwrite").parquet(staging)
            new_files = []
            for name in sorted(os.listdir(staging)):
                if name.endswith(".parquet"):
                    dst = f"{uuid.uuid4().hex}-{name}"
                    shutil.move(os.path.join(staging, name), os.path.join(self.data_dir, dst))
                    new_files.append(dst)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return self.commit(new_files, mode, df.schema)

    def commit(
        self, new_files: list[str], mode: str, schema: StructType | None = None
    ) -> str:
        """Commit data files already placed in ``data_dir`` as a new
        snapshot; returns its id.  ``append`` keeps the parent snapshot's
        files, ``overwrite`` replaces them.  ``schema`` (the new files'
        schema) is recorded with every field nullable, as parquet reads it
        back; an append records it only if it equals the parent's, so a
        snapshot whose files disagree falls back to inference.  The
        manifest rename is the atomic commit point: files not yet committed
        are never read."""
        manifest = self._load()
        parent = self._snapshot(manifest, None)
        files = (parent["files"] if parent and mode == "append" else []) + new_files
        digest = hashlib.sha256("|".join(files).encode()).hexdigest()[:12]
        sid = f"s{len(manifest['snapshots']):06d}-{digest}"
        snap = {"id": sid, "parent": parent["id"] if parent else None,
                "files": files, "mode": mode}
        if schema is not None:
            recorded = _as_nullable(schema.jsonValue())
            if mode == "overwrite" or parent is None or parent.get("schema") == recorded:
                snap["schema"] = recorded
        manifest["snapshots"].append(snap)
        manifest["current"] = sid
        self._store(manifest)
        return sid

    def read(
        self,
        spark: SparkSession,
        snapshot_id: str | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Read a snapshot.  ``merge_schema=True`` unions the schemas of
        all referenced files (Iceberg add-column evolution semantics: rows
        written before a column existed read it as NULL) — appends may
        widen the schema over time, and readers opt into the merged view
        instead of the first file's schema.  Otherwise a recorded schema
        is applied as is, so no Spark job infers it from the files."""
        snap = self._require(snapshot_id)
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        elif "schema" in snap:
            reader = reader.schema(StructType.fromJson(snap["schema"]))
        return reader.parquet(*self._paths(snap))

    def files(self, snapshot_id: str | None = None) -> list[str]:
        """Paths of a snapshot's data files (default: the current one)."""
        return self._paths(self._require(snapshot_id))

    def _require(self, snapshot_id: str | None) -> dict:
        snap = self._snapshot(self._load(), snapshot_id)
        if snap is None:
            raise FileNotFoundError(f"no snapshot {snapshot_id!r} in {self.path}")
        return snap

    def _paths(self, snap: dict) -> list[str]:
        return [os.path.join(self.data_dir, f) for f in snap["files"]]

    def rollback(self, snapshot_id: str) -> None:
        manifest = self._load()
        if self._snapshot(manifest, snapshot_id) is None:
            raise ValueError(f"unknown snapshot {snapshot_id}")
        manifest["current"] = snapshot_id
        self._store(manifest)

    def exists(self) -> bool:
        return self.current_snapshot() is not None

    def compact(
        self,
        spark: SparkSession,
        target_bytes: int = 128 << 20,
        small_file_bytes: int | None = None,
    ) -> dict:
        """Rewrite the current snapshot's data files into ~``target_bytes``
        files — the LocalSnapshotTable analog of Iceberg's
        ``rewrite_data_files`` (bin-pack) maintenance action.

        Streaming/incremental ingestion accretes small files (every
        micro-batch commit is its own file set); at 100 TB an uncompacted
        table turns scans into open-file storms and starves split planning.
        Compaction here is: read the current snapshot, ``coalesce`` down to
        ceil(total_bytes / target_bytes) output files (coalesce, not
        repartition — merging files needs no shuffle; a skew-rebalancing
        rewrite would opt into repartition explicitly), and commit the
        result as a NEW snapshot — readers of older snapshot ids are
        untouched (time travel keeps working), and ``expire_snapshots``
        reclaims the small files later.

        ``small_file_bytes`` (default ``target_bytes // 2``) is the no-op
        guard: the rewrite is SKIPPED when the file count is already
        minimal, or when every current file is at least that size (files
        within 2x of target are good enough — re-binning them would churn
        data for marginal layout gain).  Returns a stats dict (files/bytes
        before and after, the new snapshot id or None on the no-op
        path)."""
        manifest = self._load()
        snap = self._snapshot(manifest, None)
        if snap is None:
            raise FileNotFoundError(f"no current snapshot in {self.path}")
        sizes = [
            os.path.getsize(os.path.join(self.data_dir, f))
            for f in snap["files"]
        ]
        total = sum(sizes)
        small = small_file_bytes if small_file_bytes is not None else target_bytes // 2
        n_target = max(1, -(-total // target_bytes))  # ceil
        stats = {
            "files_before": len(sizes),
            "bytes_total": total,
            "target_files": n_target,
            "snapshot": None,
        }
        if len(sizes) <= n_target or not any(s < small for s in sizes):
            stats["files_after"] = len(sizes)
            return stats  # already compact — no rewrite, no new snapshot
        df = self.read(spark, snap["id"]).coalesce(n_target)
        stats["snapshot"] = self.write(df, mode="overwrite")
        stats["files_after"] = len(self._snapshot(self._load(), None)["files"])
        return stats

    def expire_snapshots(self, keep_n: int) -> list[str]:
        """T5 (result TTL): retain only the newest ``keep_n`` snapshots (the
        current one is always retained), deleting data files no surviving
        snapshot references — the LocalSnapshotTable analog of Iceberg's
        ``expire_snapshots`` maintenance action.  Returns expired ids."""
        if keep_n < 1:
            raise ValueError("keep_n must be >= 1")
        manifest = self._load()
        snaps = manifest["snapshots"]
        keep = snaps[-keep_n:]
        cur = self._snapshot(manifest, None)
        if cur and all(s["id"] != cur["id"] for s in keep):
            keep = [cur] + keep
        keep_ids = {s["id"] for s in keep}
        kept_files = {f for s in keep for f in s["files"]}
        expired = [s for s in snaps if s["id"] not in keep_ids]
        for s in expired:
            for f in s["files"]:
                if f not in kept_files:
                    try:
                        os.remove(os.path.join(self.data_dir, f))
                    except FileNotFoundError:
                        pass
        manifest["snapshots"] = [s for s in snaps if s["id"] in keep_ids]
        self._store(manifest)
        return [s["id"] for s in expired]


class IcebergTable:
    """Iceberg-native backend (cluster path; requires a configured catalog).

    Same surface as LocalSnapshotTable; snapshot ids come from the catalog's
    snapshot log.  Untestable in this sandbox (no Iceberg runtime jar) but
    kept tiny so cluster runs only flip the constructor.
    """

    def __init__(self, identifier: str):
        self.identifier = identifier

    def write(self, df: DataFrame, mode: str = "overwrite") -> str:
        writer = df.writeTo(self.identifier)
        if mode == "append":
            writer.append()
        else:
            writer.createOrReplace()
        return self.current_snapshot(df.sparkSession) or ""

    def current_snapshot(self, spark: SparkSession) -> str | None:
        row = spark.sql(
            f"SELECT snapshot_id FROM {self.identifier}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).head()
        return str(row[0]) if row else None

    def read(self, spark: SparkSession, snapshot_id: str | None = None) -> DataFrame:
        if snapshot_id:
            return spark.read.option("snapshot-id", snapshot_id).table(self.identifier)
        return spark.read.table(self.identifier)

    def rollback(self, snapshot_id: str) -> None:
        raise NotImplementedError("use CALL catalog.system.rollback_to_snapshot")


def table_for(uri: str):
    """'iceberg:cat.db.tbl' -> IcebergTable; anything else -> local path."""
    if uri.startswith("iceberg:"):
        return IcebergTable(uri.split(":", 1)[1])
    return LocalSnapshotTable(uri)


# ---------------------------------------------------------------------------
# bucketed triple layout (co-located joins at cluster scale)


def write_bucketed_triples(
    df: DataFrame,
    table: str,
    buckets: int = 64,
    key: str = "subj",
    path: str | None = None,
) -> None:
    """Persist a triples table bucketed (and sorted) on ``key``.

    Every hot join in the query surface is keyed on ``subj``: the 2-pattern
    facet self-joins (J1-J4), the 3-hop chain (J5), the 9-pattern star
    (J6/J7) and the SPARQL compiler's pattern joins all probe triples
    against triples on the subject.  At 100 TB those joins shuffle the whole
    fact table per query; hash-bucketing the stored layout on ``subj`` makes
    them ZERO-shuffle (bucket-aligned SortMergeJoin without Exchange) for
    every query forever after — one shuffle at write time, amortized across
    all reads.  ``sortBy`` additionally drops the per-task Sort before the
    merge join when bucketSorting kicks in.

    Bucketed tables need the session catalog (parquet ``save()`` can't
    record bucket metadata), hence ``saveAsTable``; ``path`` pins the data
    under an explicit directory (external table) so tests stay in tmp dirs.

    Reference anchor: the Virtuoso sink (store.py:43-54) has no layout
    control at all — this is the Spark-native upgrade, same data model.
    """
    writer = df.write.mode("overwrite").format("parquet")
    if path is not None:
        writer = writer.option("path", path)
    writer.bucketBy(buckets, key).sortBy(key).saveAsTable(table)


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle boundaries (Exchange operators) in df's SPARK plan.

    Used by tests and the plan audit to assert bucket co-location: a
    subj-keyed self-join of a table bucketed on subj must plan 0 exchanges,
    while the same join over plain parquet plans 2 (one per side).
    """
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    # Shuffles only: match the Exchange node name exactly so that
    # BroadcastExchange (not a shuffle boundary) and ReusedExchange are
    # excluded — same rule as tests/test_plan_shapes._ops.
    return sum(
        1
        for line in plan.splitlines()
        if re.search(r"(?<![\w])Exchange\b", line)
        and "BroadcastExchange" not in line
        and "ReusedExchange" not in line
    )
