"""Persisted chunk-plan + status store (checkpoint/resume semantics).

The reference persists the chunk plan and per-chunk status in MySQL
meta tables (wait_sync_meta / full_sync_meta / data_compare_meta —
/root/reference/database/meta/meta.go:100-117) and resumes by re-running
only FAILED/WAITING chunks, refusing to resume when the persisted chunk
count no longer matches the plan
(/root/reference/module/migrate/sql/oracle/o2m/full.go:287-331).

Plans are tiny (n_chunks rows/table) and driver-owned, so the store is
a JSON file per task — the *data* path stays fully distributed.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable
from dataclasses import asdict, dataclass

WAITING, RUNNING, SUCCESS, FAILED = "WAITING", "RUNNING", "SUCCESS", "FAILED"


@dataclass
class ChunkState:
    table: str
    chunk_id: int
    lower: int
    upper: int
    predicate: str
    status: str = WAITING
    error: str = ""
    staging: str = ""  # the landing dir a SUCCESS mark committed (modes/full.py)


def _write_json_atomic(path: str, obj, indent: int | None = None) -> None:
    """Write ``obj`` to a sibling tmp file, then swap it into place: a
    crash mid-write leaves the previous file intact, never a truncated
    one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=indent)
    os.replace(tmp, path)


class StateStore:
    def __init__(self, workdir: str, task: str):
        os.makedirs(workdir, exist_ok=True)
        self.path = os.path.join(workdir, f"{task}_sync_meta.json")
        self.error_log_path = os.path.join(workdir, f"{task}_error_log.jsonl")
        self._chunks: dict[tuple[str, int], ChunkState] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                for row in json.load(f):
                    cs = ChunkState(**row)
                    self._chunks[(cs.table, cs.chunk_id)] = cs

    def init_table(self, table: str, chunks: list) -> list[ChunkState]:
        """Register a chunk plan; on resume, verify plan identity.

        Mirrors full.go:315-331 — resume only when the persisted plan is
        identical: same chunk count AND same per-chunk (lower, upper,
        predicate). A re-plan with equal count but shifted boundaries
        (source data changed between runs) discards the stale state
        instead of silently resuming it.
        """
        existing = self.chunks(table)
        ident = [(c.chunk_id, c.lower, c.upper, c.predicate) for c in existing]
        if existing and ident == sorted((c.chunk_id, c.lower, c.upper, c.predicate) for c in chunks):
            return existing
        for c in existing:
            del self._chunks[(table, c.chunk_id)]
        out = [ChunkState(table, ch.chunk_id, ch.lower, ch.upper, ch.predicate) for ch in chunks]
        self._chunks.update({(table, cs.chunk_id): cs for cs in out})
        self._flush()
        return out

    def chunks(self, table: str) -> list[ChunkState]:
        return sorted((c for (t, _), c in self._chunks.items() if t == table), key=lambda c: c.chunk_id)

    def pending(self, table: str) -> list[ChunkState]:
        return [c for c in self.chunks(table) if c.status != SUCCESS]

    def mark(self, table: str, chunk_ids: int | Iterable[int], status: str, error: str = "", staging: str = "") -> None:
        """Set the status (and landing dir) of one chunk or many, then
        flush once.

        A write that lands many chunks marks them in one call, so the
        meta file holds all of them or none: a crash part-way through
        can never leave some of one write's chunks SUCCESS and the rest
        WAITING (resume would re-append those and duplicate rows). A
        flush that raises restores the previous states, so memory never
        runs ahead of the file."""
        ids = [chunk_ids] if isinstance(chunk_ids, int) else list(chunk_ids)
        states = [self._chunks[(table, cid)] for cid in ids]
        before = [(cs.status, cs.error, cs.staging) for cs in states]
        for cs in states:
            cs.status, cs.error, cs.staging = status, error, staging
        try:
            self._flush()
        except BaseException:
            for cs, old in zip(states, before):
                cs.status, cs.error, cs.staging = old
            raise
        if status == FAILED:
            self._append_errors(table, states, error)

    def _append_errors(self, table: str, states: list[ChunkState], error: str) -> None:
        """error_log_detail analogue: every failure OCCURRENCE is kept
        (the chunk row only holds the latest), so post-mortems can see
        flapping chunks and whether a retry hit the same error
        (/root/reference/database/meta/meta.go:100-117 — the reference
        persists chunk_error_detail + error_log_detail as separate,
        append-only meta tables). Attempts are numbered from one read
        of the log."""
        import time
        from collections import Counter

        attempts = Counter(e["chunk_id"] for e in self.error_log(table))
        ts = time.time()
        with open(self.error_log_path, "a") as f:
            for cs in states:
                attempts[cs.chunk_id] += 1
                entry = {
                    "table": table,
                    "chunk_id": cs.chunk_id,
                    "predicate": cs.predicate,
                    "error": error,
                    "ts": ts,
                    "attempt": attempts[cs.chunk_id],
                }
                f.write(json.dumps(entry) + "\n")

    def error_log(self, table: str | None = None) -> list[dict]:
        """All failure occurrences (optionally for one table), oldest
        first — the queryable error-table surface."""
        if not os.path.exists(self.error_log_path):
            return []
        with open(self.error_log_path) as f:
            rows = [json.loads(line) for line in f if line.strip()]
        return [r for r in rows if table is None or r["table"] == table]

    def failed(self, table: str | None = None) -> list[ChunkState]:
        """Chunks currently in FAILED state — the retry-only-failed
        work list (narrower than pending(), which also includes
        never-run WAITING chunks)."""
        return sorted(
            (
                c
                for (t, _), c in self._chunks.items()
                if c.status == FAILED and (table is None or t == table)
            ),
            key=lambda c: (c.table, c.chunk_id),
        )

    def summary(self) -> dict[str, dict[str, int]]:
        """A10 — per-table success/failed rollup (full.go:548-619)."""
        out: dict[str, dict[str, int]] = {}
        for (t, _), c in self._chunks.items():
            out.setdefault(t, {}).setdefault(c.status, 0)
            out[t][c.status] += 1
        return out

    def _flush(self) -> None:
        _write_json_atomic(self.path, [asdict(c) for c in self._chunks.values()], indent=1)
