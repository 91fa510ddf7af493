"""ProcessingSummary — the per-run metric record
(log/DatalakeLogManager.scala:13-38). The log appenders/level-config live in
``log.py``; summaries are written there as AUDIT events.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field


@dataclass
class ProcessingSummary:
    entity_id: int
    destination: str
    strategy: str
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex)
    records_in_slice: int = 0
    inserted: int = 0
    updated: int = 0
    deleted: int = 0
    inferred_deletes: int = 0
    unchanged: int = 0
    touched: int = 0
    duration_ms: float = 0.0
    # How the run committed its rows: "rewrite" (full overwrite, or
    # copy-on-write of the touched partitions) or "patch"
    # (merge-on-read patch segment); None when it wrote nothing.
    write_path: str | None = None
    # Rows the run's commit wrote (the rewritten set, or the patch).
    rows_written: int = 0


