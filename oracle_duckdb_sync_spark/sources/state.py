"""Durable JSON state: watermarks, checkpoints, schema versions, lock.

Reference parity:
- A17 ``save_json``/``load_json`` with default-on-corruption
  (state/file_manager.py:18-58)            → :class:`JsonStateStore`
- H2  watermark persistence, saved only on success
  (database/sync_engine.py:205-235,568-586) → :meth:`SyncStateStore.save_state`
- H12 checkpoint / rollback + partial progress
  (database/sync_engine.py:682-768)         → checkpoint/rollback methods
- H13 schema-mapping versioning (database/sync_engine.py:589-679)
  → :meth:`SyncStateStore.save_schema_mapping`
- H11 cross-process lock with pid/host/timestamp + 1h staleness takeover
  (state/sync_state.py:8-137)               → :class:`SyncLock`

These are driver-side by design (same as the reference): watermark state
is tiny and must commit atomically AFTER the distributed write succeeds
(write temp file + ``os.replace``). On a multi-driver deployment the
same contract moves to a metadata table; the interface stays.
"""

from __future__ import annotations

import json
import os
import socket
import time
from collections.abc import Callable
from datetime import datetime
from typing import Any, BinaryIO

from ..config import LOCK_STALE_SECONDS
from ..errors import LockHeldError


def _iso(v: Any) -> Any:
    return v.isoformat() if isinstance(v, datetime) else v


def replace_file(path: str, write: Callable[[BinaryIO], Any]) -> None:
    """Commit a whole new file at ``path``: ``write`` fills a hidden
    sibling (``.tmp-*``, which no ``*.parquet`` glob matches and pyarrow's
    discovery skips), the sibling is fsynced, and one ``os.replace`` is
    the commit point. A crash at any instruction leaves the old file or
    the whole new one, never a truncated one."""
    head, base = os.path.split(path)
    tmp = os.path.join(head, f".tmp-{base}-{os.getpid()}")
    with open(tmp, "wb") as f:
        write(f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


class JsonStateStore:
    """Atomic JSON file persistence with default-on-corruption reads."""

    def __init__(self, state_dir: str):
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.state_dir, name)

    def save_json(self, name: str, data: Any) -> None:
        text = json.dumps(data, ensure_ascii=False, indent=2, default=_iso)
        replace_file(self._path(name), lambda f: f.write(text.encode("utf-8")))

    def load_json(self, name: str, default: Any = None) -> Any:
        path = self._path(name)
        try:
            with open(path, encoding="utf-8") as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            # corruption/missing → default (state/file_manager.py:40-58)
            return default


class SyncStateStore(JsonStateStore):
    """Watermark + schema-version + partial-progress state."""

    STATE_FILE = "sync_state.json"
    SCHEMA_FILE = "schema_mappings.json"
    PROGRESS_FILE = "partial_progress.json"

    # -- watermarks (H2) ---------------------------------------------------
    def save_state(self, table: str, last_value: Any) -> None:
        """Commit a table's watermark. Call ONLY after the data write
        succeeded — the at-least-once contract of the reference."""
        state = self.load_json(self.STATE_FILE, {})
        state[table] = _iso(last_value)
        self.save_json(self.STATE_FILE, state)

    def load_state(self, table: str) -> Any:
        return self.load_json(self.STATE_FILE, {}).get(table)

    def all_state(self) -> dict:
        return self.load_json(self.STATE_FILE, {})

    # -- checkpoint / rollback (H12) --------------------------------------
    def create_state_checkpoint(self) -> dict:
        return dict(self.all_state())

    def rollback_state(self, checkpoint: dict) -> None:
        self.save_json(self.STATE_FILE, checkpoint)

    # -- partial progress (H12) -------------------------------------------
    def save_partial_progress(self, table: str, progress: dict) -> None:
        allp = self.load_json(self.PROGRESS_FILE, {})
        allp[table] = progress
        self.save_json(self.PROGRESS_FILE, allp)

    def load_partial_progress(self, table: str) -> dict | None:
        return self.load_json(self.PROGRESS_FILE, {}).get(table)

    def clear_partial_progress(self, table: str) -> None:
        allp = self.load_json(self.PROGRESS_FILE, {})
        if table in allp:
            del allp[table]
            self.save_json(self.PROGRESS_FILE, allp)

    # -- schema-mapping versions (H13) ------------------------------------
    def save_schema_mapping(self, table: str, schema: list[dict]) -> int:
        allm = self.load_json(self.SCHEMA_FILE, {})
        entry = allm.get(table, {"latest_version": 0, "versions": {}})
        version = entry["latest_version"] + 1
        entry["versions"][str(version)] = {
            "schema": schema,
            "created_at": datetime.now().isoformat(),
        }
        entry["latest_version"] = version
        allm[table] = entry
        self.save_json(self.SCHEMA_FILE, allm)
        return version

    def load_schema_mapping(self, table: str, version: int | None = None) -> list[dict] | None:
        entry = self.load_json(self.SCHEMA_FILE, {}).get(table)
        if not entry:
            return None
        v = str(version if version is not None else entry["latest_version"])
        rec = entry["versions"].get(v)
        return rec["schema"] if rec else None


class SyncLock:
    """Cross-process mutual exclusion via an O_EXCL lock file (H11)."""

    def __init__(self, state_dir: str, name: str = "sync.lock", stale_seconds: float = LOCK_STALE_SECONDS):
        os.makedirs(state_dir, exist_ok=True)
        self.path = os.path.join(state_dir, name)
        self.stale_seconds = stale_seconds

    def _read(self) -> dict | None:
        try:
            with open(self.path, encoding="utf-8") as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None

    def is_locked(self) -> bool:
        info = self._read()
        if info is None:
            return os.path.exists(self.path)
        return not self._is_stale(info)

    def _is_stale(self, info: dict) -> bool:
        return (time.time() - info.get("timestamp", 0)) > self.stale_seconds

    def acquire(self) -> bool:
        """Try to take the lock; stale locks (holder died >1h ago) are
        broken and re-taken, matching state/sync_state.py takeover."""
        payload = json.dumps(
            {"pid": os.getpid(), "hostname": socket.gethostname(), "timestamp": time.time()}
        )
        try:
            fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            info = self._read()
            if info is not None and self._is_stale(info):
                # break the stale lock via atomic rename so exactly ONE
                # contender wins the takeover (unlink-then-create has a
                # TOCTOU hole: B's unlink can remove the fresh lock A
                # just created, leaving both holding it)
                takeover = f"{self.path}.stale-{os.getpid()}-{time.monotonic_ns()}"
                try:
                    os.rename(self.path, takeover)
                except OSError:
                    return False  # another contender broke it first
                # rename() is by PATH, not inode: between our _read() and
                # the rename, another contender may have completed its own
                # takeover AND re-created a fresh lock — which we just
                # stole. Verify the moved payload is the stale one we
                # observed; if not, hand it back (link() refuses to
                # clobber, so a third contender's newer lock survives)
                # and lose the race.
                moved = None
                try:
                    with open(takeover, encoding="utf-8") as f:
                        moved = json.load(f)
                except (OSError, json.JSONDecodeError):
                    pass
                if moved != info:
                    try:
                        os.link(takeover, self.path)
                    except OSError:
                        pass  # a newer lock already exists; drop our copy
                    try:
                        os.unlink(takeover)
                    except FileNotFoundError:
                        pass
                    return False
                try:
                    os.unlink(takeover)
                except FileNotFoundError:
                    pass
                return self.acquire()
            return False
        with os.fdopen(fd, "w") as f:
            f.write(payload)
        return True

    def release(self) -> None:
        try:
            os.unlink(self.path)
        except FileNotFoundError:
            pass

    def __enter__(self):
        if not self.acquire():
            raise LockHeldError(self.path)
        return self

    def __exit__(self, *exc):
        self.release()
