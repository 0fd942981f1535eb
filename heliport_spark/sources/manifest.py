"""Iceberg-style table semantics over Parquet: snapshots, manifests, resume.

No Iceberg runtime jar exists in this sandbox, so we emulate the subset the
pipeline needs (D1/D9 in SURVEY.md §2.6): atomic snapshot commits, a manifest
listing committed partition buckets with row counts + lineage, and
resume-by-anti-join of already-committed buckets.

Layout:
    table_root/
      data/bucket=<k>/*.parquet     (one commit per bucket)
      _staging/_bucket=<k>/         (a run's one write, before its commits)
      _manifest/snapshot-<n>.json   (committed buckets, counts, lineage)
      _manifest/CURRENT             (points at the latest snapshot)

On a real cluster this maps 1:1 onto Iceberg append commits with
``bucket(clip_id)`` partition transforms; the pipeline code only touches this
module, so swapping in real Iceberg is a source/sink change.
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path


class TableManifest:
    def __init__(self, root: "str | os.PathLike"):
        self.root = Path(root)
        self.mdir = self.root / "_manifest"

    # ------------------------------------------------------------- read side

    def current_snapshot(self) -> "dict | None":
        cur = self.mdir / "CURRENT"
        if not cur.exists():
            return None
        return json.loads((self.mdir / cur.read_text().strip()).read_text())

    def committed_buckets(self) -> "dict[int, dict]":
        snap = self.current_snapshot()
        if snap is None:
            return {}
        return {int(k): v for k, v in snap["buckets"].items()}

    # ------------------------------------------------------------ write side

    def commit_bucket(self, bucket: int, rows: int, counters: "dict | None" = None,
                      lineage: "dict | None" = None) -> dict:
        """Append-commit one bucket: new snapshot = previous ∪ {bucket}.

        Single-writer (the pipeline's commit loop); snapshot files are written
        whole-then-renamed so readers never see a torn manifest.
        """
        self.mdir.mkdir(parents=True, exist_ok=True)
        prev = self.current_snapshot()
        n = 0 if prev is None else prev["snapshot_id"] + 1
        buckets = {} if prev is None else dict(prev["buckets"])
        buckets[str(bucket)] = {
            "rows": rows,
            "counters": counters or {},
            "lineage": lineage or {},
        }
        snap = {
            "snapshot_id": n,
            "parent_id": None if prev is None else prev["snapshot_id"],
            "committed_at_unix": int(time.time()),
            "buckets": buckets,
            "total_rows": sum(b["rows"] for b in buckets.values()),
        }
        name = f"snapshot-{n}.json"
        self._durable_write(self.mdir / name, json.dumps(snap, indent=1))
        self._durable_write(self.mdir / "CURRENT", name)
        return snap

    def _durable_write(self, path, text: str) -> None:
        """write-tmp → fsync(file) → rename → fsync(dir): rename alone is
        atomic against PROCESS crashes but not against system crashes —
        without the fsyncs ext4 may persist the rename before the data
        blocks and a power loss leaves CURRENT pointing at an empty
        snapshot, bricking resume."""
        tmp = path.with_name(path.name + ".tmp")
        with open(tmp, "w") as fh:
            fh.write(text)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
        dfd = os.open(str(path.parent), os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def reset(self) -> None:
        """Start over: commit a fresh EMPTY snapshot on top of the history
        (monotone snapshot ids — the reset is itself lineage). Without this
        a non-resume rerun would union its buckets into the stale manifest
        and read_pipeline_output would return old and new rows together."""
        prev = self.current_snapshot()
        if prev is None or not prev["buckets"]:
            return
        n = prev["snapshot_id"] + 1
        snap = {
            "snapshot_id": n,
            "parent_id": prev["snapshot_id"],
            "committed_at_unix": int(time.time()),
            "buckets": {},
            "total_rows": 0,
        }
        name = f"snapshot-{n}.json"
        self._durable_write(self.mdir / name, json.dumps(snap, indent=1))
        self._durable_write(self.mdir / "CURRENT", name)

    def bucket_path(self, bucket: int) -> str:
        return str(self.root / "data" / f"bucket={bucket}")

    def aggregate_counters(self) -> dict:
        agg: dict = {}
        for b in self.committed_buckets().values():
            for k, v in b.get("counters", {}).items():
                agg[k] = agg.get(k, 0) + v
        return agg
