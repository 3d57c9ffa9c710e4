"""TableIO seam: Iceberg-style snapshot semantics over plain parquet.

No Iceberg runtime jar ships in this sandbox (SURVEY.md §7), so this module
provides the minimal snapshot surface the checkpoint/resume logic needs —
the same operations an Iceberg catalog would serve, behind one seam:

* a table is a directory of parquet data files plus ``_manifest.json``;
* every append creates a new immutable snapshot = previous file list + new
  files (manifest rewrite is atomic via temp + ``os.replace``);
* readers pin a snapshot id and see exactly that file list;
* each append records the written DataFrame's schema (``df.schema.json()``)
  in the snapshot it commits, so a read of files that commits with one
  recorded schema added passes it to ``spark.read.schema(...)`` and starts
  no schema-inference job. Files adopted by :meth:`from_parquet_dir`, or
  added under different schemas, are inferred as Spark always does.

Swapping in a real Iceberg catalog is a config change at this seam, not a
rewrite: ``current_snapshot`` -> table.currentSnapshot(), ``read_snapshot``
-> ``spark.read.option("snapshot-id", ...)``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid


class SnapshotTable:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "_manifest.json")

    def _read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"snapshots": []}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic on POSIX

    # -- snapshot surface ---------------------------------------------------

    def current_snapshot(self) -> "dict | None":
        snaps = self._read_manifest()["snapshots"]
        return snaps[-1] if snaps else None

    def snapshot(self, snapshot_id: "int | None" = None) -> "dict | None":
        if snapshot_id is None:
            return self.current_snapshot()
        for s in self._read_manifest()["snapshots"]:
            if s["id"] == snapshot_id:
                return s
        raise KeyError(f"snapshot {snapshot_id} not found in {self.path}")

    def files(self, snapshot_id: "int | None" = None) -> "list[str]":
        snap = self.snapshot(snapshot_id)
        return [os.path.join(self.path, f) for f in (snap["files"] if snap else [])]

    @classmethod
    def from_parquet_dir(cls, path: str) -> "SnapshotTable":
        """Adopt an existing plain parquet directory as snapshot 1."""
        t = cls(path)
        if t.current_snapshot() is None:
            files = sorted(f for f in os.listdir(path)
                           if f.endswith(".parquet"))
            t._commit(files)
        return t

    def _commit(self, new_files: "list[str]",
                properties: "dict | None" = None,
                schema: "str | None" = None) -> dict:
        # serialize the read-modify-write: os.replace makes each write
        # atomic but does NOT serialize concurrent committers — without the
        # lock, two overlapping append()s would both read the same snapshot
        # list and the loser's files would become silent orphans
        import fcntl

        lock_path = os.path.join(self.path, "_manifest.lock")
        with open(lock_path, "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            manifest = self._read_manifest()
            prev = (manifest["snapshots"][-1]["files"]
                    if manifest["snapshots"] else [])
            snap = {"id": len(manifest["snapshots"]) + 1,
                    "ts": time.time(),
                    "files": prev + [f for f in new_files if f not in prev],
                    # Iceberg-style snapshot summary properties (e.g. the
                    # checkpoint layer records which INPUT files this commit
                    # covers, including ones that produced zero rows)
                    "properties": dict(properties or {})}
            if schema is not None:
                snap["schema"] = schema
            manifest["snapshots"].append(snap)
            self._write_manifest(manifest)
        return snap

    # -- write path ----------------------------------------------------------

    def append(self, df, properties: "dict | None" = None,
               before_commit=None) -> dict:
        """Append a Spark DataFrame as new data files -> new snapshot.

        ``before_commit(staged_paths)``, given the written parquet files
        before they enter the table, returns more snapshot properties or
        raises to abort: the staging directory is removed and no snapshot
        is committed."""
        staging = os.path.join(self.path, f"_staging_{uuid.uuid4().hex}")
        try:
            df.write.mode("overwrite").parquet(staging)
            staged = [os.path.join(staging, f)
                      for f in sorted(os.listdir(staging))
                      if f.endswith(".parquet")]
            properties = dict(properties or {})
            if before_commit is not None:
                properties.update(before_commit(staged))
            new = []
            for f in staged:
                name = f"snap-{uuid.uuid4().hex[:8]}-{os.path.basename(f)}"
                os.replace(f, os.path.join(self.path, name))
                new.append(name)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return self._commit(new, properties, df.schema.json())

    # -- read path -----------------------------------------------------------

    def read(self, spark, snapshot_id: "int | None" = None):
        files = self.files(snapshot_id)
        if not files:
            raise ValueError(f"table {self.path} has no snapshot")
        return self.read_files(spark, files)

    def read_files(self, spark, paths: "list[str]"):
        """Read some of this table's data files (paths under the table
        directory), with the recorded schema when every one of them was
        added by a commit that recorded the same schema."""
        added: dict = {}   # file name -> schema of the commit that added it
        for snap in self._read_manifest()["snapshots"]:
            for f in snap["files"]:
                added.setdefault(f, snap.get("schema"))
        schemas = {added.get(os.path.relpath(p, self.path)) for p in paths}
        reader = spark.read
        if len(schemas) == 1 and None not in schemas:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(
                json.loads(schemas.pop())))
        return reader.parquet(*paths)
