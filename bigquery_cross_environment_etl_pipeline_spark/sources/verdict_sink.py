"""Custom Python DataSource WRITER (Spark 4 API): a JSONL table sink
with an atomic commit manifest — the batched-load-plus-verdict sink
surface of the reference (core/services/billing_etl.py batches rows
into the warehouse and accounts loaded/rejected per batch; S8/S10 in
SURVEY.md §2) re-expressed as a first-class
``df.write.format("jsonl_verdict")`` target instead of a driver-side
client loop.

Two-phase commit protocol (the object-store-friendly shape):

- ``write()`` (per task): rows stream to a UNIQUE staged file
  ``_staging/part-<uuid>.jsonl``; the task returns (path, rows) as its
  commit message. A re-attempted task stages a NEW uuid file, so
  losers of speculative/retried attempts are never referenced.
- ``commit()`` (driver, once, after every task succeeded): staged
  files move into the table dir and ONE manifest
  (``_COMMIT-<uuid>.json``) is written with the file list, per-file
  row counts, and the total — the load verdict. Readers list
  MANIFESTS, never the directory, so a torn job is invisible: the
  manifest write IS the visibility event.
- ``abort()``: staged files are deleted; committed data is untouched.

Appends accumulate manifests (one per job, like the reference's
per-run load batches). ``mode("overwrite")`` is ATOMIC via
supersession: the new manifest lists the manifests it retracts, and
readers drop superseded manifests — so visibility flips old→new in
the single rename of the new manifest (a crash can never expose an
empty or doubled table); the physical cleanup of retracted files runs
after and is correctness-irrelevant.

Streaming (``DataSourceStreamWriter``) uses the same protocol per
epoch with ``_COMMIT-stream-<batchId>.json`` manifests: a replayed
epoch REPLACES its own manifest by an atomic same-name rename (old
attempt's files deleted only once unreferenced), so micro-batch retry
is idempotent — at-least-once task execution, exactly-once
visibility. Only append output mode is supported (truncate raises).

At 100 TB: every data byte moves executor-side (tasks write their own
partitions); the driver handles only O(tasks) commit messages and one
manifest rename — the same division of labor as Spark's own
FileOutputCommitter v2 / object-store committers. On a real object
store the ``os.replace`` rename becomes a PUT-if-absent of the
manifest key; the protocol is unchanged.
"""

from __future__ import annotations

import glob
import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)


@dataclass
class PartCommit(WriterCommitMessage):
    path: str
    rows: int


def _stage_rows(path: str, iterator) -> PartCommit:
    """Task-side: stream rows to one uniquely-named staged JSONL file.
    default=str renders Decimal/timestamp values losslessly (floats go
    through repr — shortest-round-trip, so doubles survive bitwise)."""
    staging = os.path.join(path, "_staging")
    os.makedirs(staging, exist_ok=True)
    part = os.path.join(staging, f"part-{uuid.uuid4().hex}.jsonl")
    n = 0
    with open(part, "w") as f:
        for row in iterator:
            f.write(json.dumps(row.asDict(), default=str) + "\n")
            n += 1
    return PartCommit(part, n)


def _publish(
    path: str, messages, manifest_name: str, supersedes: list[str] | None = None
) -> None:
    """Driver-side: move staged files into the table dir, then make
    them visible with ONE manifest write (the atomic commit point).
    ``supersedes`` names older manifests this one RETRACTS: readers
    drop superseded manifests, so overwrite visibility flips atomically
    at this manifest's rename — never an empty or doubled table."""
    files, total = [], 0
    for m in messages:
        if m is None or m.rows == 0:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)
            continue
        final = os.path.join(path, os.path.basename(m.path))
        os.replace(m.path, final)
        files.append({"file": os.path.basename(final), "rows": m.rows})
        total += m.rows
    manifest = {
        "files": files,
        "total_rows": total,
        "supersedes": sorted(supersedes or []),
    }
    tmp = os.path.join(path, f"_manifest.tmp.{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(path, manifest_name))


def _load_manifest(mp: str) -> dict:
    try:
        with open(mp) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {"files": []}


def _cleanup_superseded(path: str, names: list[str]) -> None:
    """Best-effort removal of superseded manifests and their files —
    correctness never depends on it (readers already ignore them), so
    a crash mid-cleanup leaves only invisible orphans."""
    for name in names:
        mp = os.path.join(path, name)
        if not os.path.exists(mp):
            continue
        for entry in _load_manifest(mp).get("files", []):
            fp = os.path.join(path, entry["file"])
            if os.path.exists(fp):
                os.remove(fp)
        os.remove(mp)


def _abort(messages) -> None:
    for m in messages:
        if m is not None and os.path.exists(m.path):
            os.remove(m.path)


class JsonlVerdictBatchWriter(DataSourceWriter):
    def __init__(self, options, overwrite: bool):
        self.path = options["path"]
        self.overwrite = overwrite

    def write(self, iterator) -> PartCommit:
        return _stage_rows(self.path, iterator)

    def commit(self, messages) -> None:
        old = (
            [
                os.path.basename(p)
                for p in glob.glob(os.path.join(self.path, "_COMMIT-*.json"))
            ]
            if self.overwrite
            else []
        )
        _publish(
            self.path,
            messages,
            f"_COMMIT-{uuid.uuid4().hex}.json",
            supersedes=old,
        )
        _cleanup_superseded(self.path, old)

    def abort(self, messages) -> None:
        _abort(messages)


class JsonlVerdictStreamWriter(DataSourceStreamWriter):
    def __init__(self, options):
        self.path = options["path"]

    def write(self, iterator) -> PartCommit:
        return _stage_rows(self.path, iterator)

    def commit(self, messages, batchId: int) -> None:
        # idempotent under epoch replay: the manifest NAME is the epoch,
        # so publishing is an atomic same-name os.replace — a replayed
        # epoch flips from old to new attempt with no empty window;
        # the old attempt's files are deleted only after they are
        # unreferenced (crash mid-cleanup leaves invisible orphans)
        name = f"_COMMIT-stream-{batchId}.json"
        prior = os.path.join(self.path, name)
        old_files = (
            [e["file"] for e in _load_manifest(prior).get("files", [])]
            if os.path.exists(prior)
            else []
        )
        _publish(self.path, messages, name)
        for fname in old_files:
            fp = os.path.join(self.path, fname)
            if os.path.exists(fp):
                os.remove(fp)

    def abort(self, messages, batchId: int) -> None:
        _abort(messages)


class JsonlVerdictDataSource(DataSource):
    """Register with ``spark.dataSource.register(JsonlVerdictDataSource)``
    then ``df.write.format("jsonl_verdict").option("path", p).save()``
    or ``df.writeStream.format("jsonl_verdict")``."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_verdict"

    def writer(self, schema, overwrite: bool) -> JsonlVerdictBatchWriter:
        return JsonlVerdictBatchWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> JsonlVerdictStreamWriter:
        if overwrite:
            # complete/truncate output modes would need cross-epoch
            # retraction this sink does not implement — refuse loudly
            # rather than accumulate duplicated recomputed results
            raise NotImplementedError(
                "jsonl_verdict supports append-mode streaming only"
            )
        return JsonlVerdictStreamWriter(self.options)


def committed_manifests(path: str) -> list[dict]:
    """Parsed VISIBLE manifests, batch and stream alike (ordered by
    name for determinism). A manifest named in any other manifest's
    ``supersedes`` list is retracted — this is what makes
    mode("overwrite") atomic: the new manifest's rename flips the old
    data invisible in the same instant it publishes the new, even if
    the physical cleanup never ran."""
    loaded: dict[str, dict] = {}
    for mp in sorted(glob.glob(os.path.join(path, "_COMMIT-*.json"))):
        with open(mp) as f:
            loaded[os.path.basename(mp)] = json.load(f)
    retracted = {
        name for m in loaded.values() for name in m.get("supersedes", [])
    }
    return [m for name, m in loaded.items() if name not in retracted]


def read_committed(spark, path: str, schema):
    """Manifest-gated read: ONLY files a commit manifest references are
    visible — staged or orphaned files are not data. Empty table reads
    as an empty DataFrame of the given schema."""
    files = [
        os.path.join(path, e["file"])
        for m in committed_manifests(path)
        for e in m["files"]
    ]
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(files)
