"""Snapshot-committed parquet tables — the crawl's checkpoint store.

Iceberg-shaped semantics on plain parquet (the sandbox has no Iceberg
runtime jar; in production this maps 1:1 onto an Iceberg table with the
same commit discipline — bucketed layout, snapshot log, atomic commit,
time travel):

- a table is a directory with ``data/commit-N/`` parquet file sets and
  a ``snapshots/`` JSON log; each snapshot lists the *complete* set of
  live data directories plus per-partition lineage/metrics carried by
  the committing micro-batch (north_rule: "resumable from checkpoint
  with per-partition lineage + metrics"), and the table schema, so a
  read runs no schema-inference job (a manifest without one, written
  before commits recorded it, still reads by inference);
- commits are atomic: manifest written to a temp name then
  ``os.rename``'d; the ``LATEST`` pointer is swapped last — a crash at
  any point leaves the previous snapshot intact and readable;
- readers always resolve ``LATEST`` → manifest → file list, so a
  resumed crawl sees exactly the state of the last completed
  micro-batch (SURVEY.md §7.3 resumability);
- append-only logs (frontier state changes, seen-set) get periodic
  ``compact()`` which rewrites current state as a fresh base commit —
  the log-structured-merge answer to 10^10-row frontier churn.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Any, Iterable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class SnapshotTable:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.join(path, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)

    # --- snapshot log ----------------------------------------------
    def _latest_pointer(self) -> Optional[str]:
        p = os.path.join(self.path, "LATEST")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return f.read().strip()

    def current_snapshot(self) -> Optional[dict[str, Any]]:
        name = self._latest_pointer()
        if name is None:
            return None
        with open(os.path.join(self.path, "snapshots", name)) as f:
            return json.load(f)

    def snapshot(self, snapshot_id: int) -> dict[str, Any]:
        """Time travel: load a specific snapshot manifest."""
        with open(
            os.path.join(self.path, "snapshots", f"snapshot-{snapshot_id:06d}.json")
        ) as f:
            return json.load(f)

    def history(self) -> list[dict[str, Any]]:
        out = []
        d = os.path.join(self.path, "snapshots")
        for name in sorted(os.listdir(d)):
            if name.endswith(".json"):
                with open(os.path.join(d, name)) as f:
                    out.append(json.load(f))
        return out

    def _snapshot_ids(self) -> list[int]:
        d = os.path.join(self.path, "snapshots")
        return sorted(
            int(n[len("snapshot-"):-len(".json")])
            for n in os.listdir(d)
            if n.startswith("snapshot-") and n.endswith(".json")
        )

    # --- lifecycle (Iceberg expire_snapshots / rollback parity) ------
    def rollback(self, snapshot_id: int) -> dict[str, Any]:
        """Atomically point ``LATEST`` back at an older snapshot (the
        Iceberg ``rollback_to_snapshot`` procedure).  The abandoned
        branch's manifests stay on disk until expired; ids are never
        reused, so the branch remains inspectable via history()."""
        snap = self.snapshot(snapshot_id)  # raises if missing
        tmp = os.path.join(self.path, f".LATEST-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(f"snapshot-{snapshot_id:06d}.json")
        os.rename(tmp, os.path.join(self.path, "LATEST"))
        return snap

    def expire_snapshots(
        self,
        *,
        keep_last: int = 1,
        protect: Iterable[int] = (),
        dry_run: bool = False,
    ) -> dict[str, list]:
        """Iceberg ``expire_snapshots`` + ``remove_orphan_files`` in
        one pass: retain the current snapshot, the newest
        ``keep_last`` snapshots, and every id in ``protect`` (the
        crawler passes the sub-table ids pinned by retained ROOT
        snapshots, so a resumable cut is never broken); delete the
        rest's manifests, then delete every data directory no
        retained manifest references.

        Append-mode commits SHARE data dirs (each manifest lists the
        complete live set), so a dir is only orphaned once every
        manifest listing it is expired — checked against the retained
        set, never inferred from commit numbering."""
        ids = self._snapshot_ids()
        current = self._latest_pointer()
        cur_id = (
            int(current[len("snapshot-"):-len(".json")]) if current else None
        )
        retained = set(ids[-keep_last:] if keep_last > 0 else [])
        retained.update(int(p) for p in protect)
        if cur_id is not None:
            retained.add(cur_id)
        expired = [i for i in ids if i not in retained]

        live_dirs: set[str] = set()
        for sid in sorted(retained):
            if sid in ids:
                live_dirs.update(self.snapshot(sid)["data_dirs"])
        data_root = os.path.join(self.path, "data")
        orphans = [
            f"data/{d}"
            for d in sorted(os.listdir(data_root))
            if f"data/{d}" not in live_dirs
        ]
        if not dry_run:
            for sid in expired:
                os.remove(
                    os.path.join(
                        self.path, "snapshots", f"snapshot-{sid:06d}.json"
                    )
                )
            for rel in orphans:
                shutil.rmtree(os.path.join(self.path, rel))
        return {"expired": expired, "deleted_dirs": orphans}

    # --- commit -----------------------------------------------------
    def commit(
        self,
        df: Optional[DataFrame],
        *,
        mode: str = "append",
        metrics: Optional[dict[str, Any]] = None,
        lineage: Optional[dict[str, Any]] = None,
    ) -> dict[str, Any]:
        """Write ``df`` as a new data commit and atomically publish a
        snapshot.  ``mode='append'`` keeps prior data dirs live;
        ``mode='overwrite'`` starts a fresh file set (compaction)."""
        prev = self.current_snapshot()
        # allocate PAST the highest manifest on disk, not parent+1 —
        # after a rollback the abandoned branch's ids must not be
        # reused (Iceberg snapshot ids are likewise never recycled)
        sid = max(self._snapshot_ids(), default=0) + 1
        assert prev is None or sid > prev["id"]
        dirs: list[str] = list(prev["data_dirs"]) if (prev and mode == "append") else []
        schema = prev.get("schema") if prev else None
        if df is not None:
            rel = f"data/commit-{sid:06d}-{uuid.uuid4().hex[:8]}"
            df.write.mode("errorifexists").parquet(os.path.join(self.path, rel))
            dirs.append(rel)
            schema = df.schema.jsonValue()
        manifest = {
            "id": sid,
            "parent": prev["id"] if prev else None,
            "data_dirs": dirs,
            "schema": schema,
            "metrics": metrics or {},
            "lineage": lineage or {},
            "committed_at": time.time(),
        }
        name = f"snapshot-{sid:06d}.json"
        tmp = os.path.join(self.path, "snapshots", f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, os.path.join(self.path, "snapshots", name))
        tmp2 = os.path.join(self.path, f".LATEST-{uuid.uuid4().hex}")
        with open(tmp2, "w") as f:
            f.write(name)
        os.rename(tmp2, os.path.join(self.path, "LATEST"))
        return manifest

    # --- read -------------------------------------------------------
    def read(
        self, spark: SparkSession, snapshot_id: Optional[int] = None
    ) -> Optional[DataFrame]:
        snap = (
            self.snapshot(snapshot_id) if snapshot_id is not None else self.current_snapshot()
        )
        if snap is None or not snap["data_dirs"]:
            return None
        paths = [os.path.join(self.path, d) for d in snap["data_dirs"]]
        if snap.get("schema") is None:
            # a manifest written before commits recorded the schema
            return spark.read.parquet(*paths)
        schema = StructType.fromJson(snap["schema"])
        return spark.read.schema(schema).parquet(*paths)

    def compact(self, spark: SparkSession) -> None:
        """Rewrite the live file set as one base commit.  The new commit
        writes to a fresh data dir, so reading the old dirs while
        writing is safe."""
        df = self.read(spark)
        if df is None:
            return
        self.commit(df, mode="overwrite", metrics={"compaction": True})
