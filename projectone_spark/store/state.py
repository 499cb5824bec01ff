"""Versioned file-based KV state store.

Mirrors the reference's task state semantics (``core/state/spark/state.py``):
folders ``sources/ sink/ state/``, each key a JSON file
``{"version": n, "value": ...}`` with historical ``_v{n}`` copies kept on
every set (``state.py:89-127``) and reads returning the full envelope
(``:158-180``). Each ``_v{n}`` is published put-if-absent and never
rewritten (:mod:`store.versioned`). Values are plain JSON; timestamps/dates
are stored as tagged strings so CDC state round-trips losslessly.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
from typing import Any

from projectone_spark.store.versioned import publish, read_latest

_TYPE_TAG = "__type__"


def _encode(value: Any) -> Any:
    if isinstance(value, _dt.datetime):
        return {_TYPE_TAG: "timestamp", "value": value.isoformat()}
    if isinstance(value, _dt.date):
        return {_TYPE_TAG: "date", "value": value.isoformat()}
    if isinstance(value, dict):
        return {k: _encode(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [_encode(v) for v in value]
    return value


def _decode(value: Any) -> Any:
    if isinstance(value, dict):
        tag = value.get(_TYPE_TAG)
        if tag == "timestamp":
            return _dt.datetime.fromisoformat(value["value"])
        if tag == "date":
            return _dt.date.fromisoformat(value["value"])
        return {k: _decode(v) for k, v in value.items()}
    if isinstance(value, list):
        return [_decode(v) for v in value]
    return value


class StateStore:
    """JSON KV with per-key version history and atomic writes."""

    FOLDERS = ("sources", "sink", "state")

    def __init__(self, root: str):
        self.root = root
        for folder in self.FOLDERS:
            os.makedirs(os.path.join(root, folder), exist_ok=True)

    def _path(self, folder: str, key: str, version: int | None = None) -> str:
        suffix = f"_v{version}" if version is not None else ""
        return os.path.join(self.root, folder, f"{key}{suffix}.json")

    def get(self, key: str, folder: str = "state") -> dict | None:
        """Returns ``{"version": n, "value": ...}`` of the newest version,
        or None."""
        envelope = read_latest(self._path(folder, key),
                               lambda v: self._path(folder, key, v))
        if envelope is None:
            return None
        envelope["value"] = _decode(envelope["value"])
        return envelope

    def get_value(self, key: str, folder: str = "state", default: Any = None) -> Any:
        envelope = self.get(key, folder)
        return default if envelope is None else envelope["value"]

    def set(self, key: str, value: Any, folder: str = "state") -> int:
        """Write a new version; prior versions are retained as ``_v{n}``,
        and a concurrent set of the key takes the next one."""
        while True:
            prev = self.get(key, folder)
            version = 0 if prev is None else prev["version"] + 1
            try:
                publish(self._path(folder, key),
                        lambda v: self._path(folder, key, v),
                        {"version": version, "value": _encode(value)})
                return version
            except FileExistsError:
                continue

    def get_version(self, key: str, version: int, folder: str = "state") -> dict | None:
        try:
            with open(self._path(folder, key, version)) as f:
                envelope = json.load(f)
        except FileNotFoundError:
            return None
        envelope["value"] = _decode(envelope["value"])
        return envelope

    def keys(self, folder: str = "state") -> list[str]:
        d = os.path.join(self.root, folder)
        return sorted(
            fn[:-5] for fn in os.listdir(d)
            if fn.endswith(".json") and "_v" not in fn and ".tmp." not in fn)
