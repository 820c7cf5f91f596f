"""Build checkpointing + lineage (SURVEY.md §7.2-M5).

Every build stage materializes to parquet and records a lineage entry
``{out_dir}/_lineage/{stage}.json`` carrying the source fingerprint, wall
time, and stage metrics. A re-run with the same fingerprint skips
completed stages (idempotent resume after a mid-build kill); a different
fingerprint invalidates everything downstream.

This is the Iceberg-snapshot-checkpoint analog scoped to parquet: the
fingerprint plays the role of the source snapshot_id, the stage manifests
play the role of committed snapshots. Per-partition metrics rows (the
reference's Valkey counters, reference app/services/metrics.py:10-63,
made durable and distributed) land in ``_lineage/partitions`` as a
parquet table ``(stage, part_id, n_docs, n_postings, bytes)``.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable


def write_json_atomic(path: str, obj, indent: int | None = None) -> None:
    """Write ``obj`` as JSON to ``path`` all-or-nothing: serialize first,
    write a temp file beside it, then ``os.replace`` it into place. A
    failure at any step leaves the previous file (if any) intact."""
    text = json.dumps(obj, indent=indent)
    tmp = path + ".tmp"
    try:
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


class StageCheckpointer:
    def __init__(self, out_dir: str, fingerprint: str, resume: bool = True):
        self.out_dir = out_dir
        self.fingerprint = fingerprint
        self.resume = resume
        self.dir = os.path.join(out_dir, "_lineage")
        os.makedirs(self.dir, exist_ok=True)
        self.walls: dict[str, float] = {}

    def _path(self, stage: str) -> str:
        return os.path.join(self.dir, f"{stage}.json")

    def is_done(self, stage: str) -> bool:
        if not self.resume:
            return False
        try:
            with open(self._path(stage)) as f:
                entry = json.load(f)
            return entry.get("fingerprint") == self.fingerprint
        except (OSError, ValueError):
            return False

    def run(self, stage: str, fn: Callable[[], dict | None]) -> None:
        """Run ``fn`` unless this stage already completed for the same
        fingerprint. fn may return a metrics dict to store."""
        if self.is_done(stage):
            self.walls[f"stage_{stage}_sec"] = 0.0
            return
        t0 = time.perf_counter()
        metrics = fn() or {}
        wall = round(time.perf_counter() - t0, 3)
        self.walls[f"stage_{stage}_sec"] = wall
        write_json_atomic(  # atomic commit of the stage
            self._path(stage),
            {
                "stage": stage,
                "fingerprint": self.fingerprint,
                "wall_sec": wall,
                "completed_at": time.strftime("%Y-%m-%d %H:%M:%S"),
                "metrics": metrics,
            },
        )

    def entries(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.dir, name)) as f:
                    out.append(json.load(f))
        return out
