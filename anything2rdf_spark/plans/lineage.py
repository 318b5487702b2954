"""Per-stage, per-partition lineage + metrics registry (north_star mandate:
"every stage checkpoints ... with per-partition lineage rows and metrics so
runs resume idempotently").

The registry is itself a table in the warehouse (append-only JSONL — readable
without Spark, atomic per stage-completion). A stage is *complete* for a
given input fingerprint when a ``status=done`` row with that fingerprint
exists; re-runs skip it and read the checkpoint (SURVEY §4.2 custom item 4).
A stage whose table raised leaves a ``status=failed`` row naming the
error's class, which never counts as complete.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid


class LineageRegistry:
    def __init__(self, warehouse: str):
        self.path = os.path.join(warehouse, "_lineage.jsonl")
        os.makedirs(warehouse, exist_ok=True)
        # one stage's rows are appended together, never interleaved with
        # another thread's
        self._lock = threading.Lock()

    def _rows(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        out: list[dict] = []
        with open(self.path) as f:
            for line in f:
                if not line.strip():
                    continue
                try:
                    out.append(json.loads(line))
                except json.JSONDecodeError:
                    # a run killed mid-append leaves one truncated trailing
                    # line; resume must survive it (correctness is guarded
                    # by the checkpoint's _SUCCESS + schema sidecar, not by
                    # this row) — skip, never crash the registry
                    continue
        return out

    def is_done(self, stage: str, fingerprint: str) -> bool:
        return any(
            r["stage"] == stage
            and r["status"] == "done"
            and r["input_fingerprint"] == fingerprint
            and r.get("partition_id") is None
            for r in self._rows()
        )

    def record(
        self,
        run_id: str,
        stage: str,
        fingerprint: str,
        rows_in: int | None,
        rows_out: int | None,
        wall_ms: int,
        status: str = "done",
        partition_rows: dict[int, int] | None = None,
        error: str | None = None,
    ) -> None:
        with self._lock, open(self.path, "a") as f:
            for pid, n in (partition_rows or {}).items():
                f.write(
                    json.dumps(
                        {
                            "run_id": run_id,
                            "stage": stage,
                            "partition_id": pid,
                            "input_fingerprint": fingerprint,
                            "rows_in": None,
                            "rows_out": n,
                            "wall_ms": None,
                            "status": status,
                            "error": None,
                            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                        }
                    )
                    + "\n"
                )
            f.write(
                json.dumps(
                    {
                        "run_id": run_id,
                        "stage": stage,
                        "partition_id": None,
                        "input_fingerprint": fingerprint,
                        "rows_in": rows_in,
                        "rows_out": rows_out,
                        "wall_ms": wall_ms,
                        "status": status,
                        "error": error,
                        "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                    }
                )
                + "\n"
            )

    def metrics(self) -> list[dict]:
        return self._rows()


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
