"""Snapshot-committing table adapter (SURVEY.md §2 A1/A2, §0.2).

Locally this emulates the Iceberg commit protocol the cluster profile
uses for real: parquet data files + an append-only chain of JSON
manifests, where a commit is an atomic manifest swap (os.replace of the
HEAD pointer). Readers resolve HEAD (or any historical snapshot id) to
an explicit file list, so a crashed half-written append is invisible —
its files are never referenced by any committed manifest.

Append idempotence is keyed by caller-supplied ``batch_id``: appending
a batch_id that is already in the current manifest is a no-op. That is
what makes the runner's resume path (§3.3) exactly-once at
partition-batch granularity.

The package has no Iceberg adapter (the Iceberg runtime jars are not a
dependency, SURVEY.md §0.2): the runner always writes a
``SnapshotTable``. docs/cluster_profile.md describes the deployment it
stands in for.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


class SnapshotTable:
    """Local snapshot-committing table: parquet + manifest chain."""

    def __init__(self, path: str):
        self.path = path
        self._manifest_dir = os.path.join(path, "manifests")
        self._data_dir = os.path.join(path, "data")
        self._head = os.path.join(path, "HEAD")
        os.makedirs(self._manifest_dir, exist_ok=True)
        os.makedirs(self._data_dir, exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------

    def current_snapshot_id(self) -> int:
        """-1 when the table has no committed snapshot yet."""
        try:
            with open(self._head) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def _manifest_path(self, snapshot_id: int) -> str:
        return os.path.join(self._manifest_dir, f"v{snapshot_id}.json")

    def _load_manifest(self, snapshot_id: int) -> dict:
        if snapshot_id < 0:
            return {"snapshot_id": -1, "batches": {}}
        with open(self._manifest_path(snapshot_id)) as f:
            return json.load(f)

    def committed_batches(self) -> set[str]:
        return set(self._load_manifest(self.current_snapshot_id())["batches"])

    # -- read -----------------------------------------------------------

    def files(self, snapshot_id: int | None = None) -> list[str]:
        """The data files of the table at HEAD (default) or at a
        historical snapshot, in commit order."""
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        return [f for fs in self._load_manifest(sid)["batches"].values() for f in fs]

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame | None:
        """Read the table at HEAD (default) or at a historical snapshot.
        Returns None for an empty table (no snapshot / no files)."""
        files = self.files(snapshot_id)
        if not files:
            return None
        return spark.read.parquet(*files)

    # -- append + commit ------------------------------------------------

    def append(self, df: DataFrame, batch_id: str) -> int:
        """Atomically append ``df`` under ``batch_id``; no-op if that
        batch_id is already committed. Returns the snapshot id visible
        after the call."""
        head = self.current_snapshot_id()
        manifest = self._load_manifest(head)
        if batch_id in manifest["batches"]:
            return head

        # 1. write data files to a fresh uncommitted directory
        safe = batch_id.replace("/", "_")
        out_dir = os.path.join(self._data_dir, f"{safe}-{uuid.uuid4().hex[:8]}")
        df.write.mode("overwrite").parquet(out_dir)
        files = sorted(
            os.path.join(out_dir, f)
            for f in os.listdir(out_dir)
            if f.endswith(".parquet")
        )

        # 2. write the next manifest, then atomically swing HEAD to it.
        #    A crash before os.replace leaves HEAD at the old snapshot;
        #    the orphan data dir is unreferenced and harmless.
        new_id = head + 1
        new_manifest = {
            "snapshot_id": new_id,
            "parent": head,
            "batches": {**manifest["batches"], batch_id: files},
        }
        with open(self._manifest_path(new_id), "w") as f:
            json.dump(new_manifest, f)
        tmp = self._head + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(str(new_id))
        os.replace(tmp, self._head)
        return new_id

