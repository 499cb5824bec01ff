"""Put-if-absent publish of immutable JSON versions, for the
:class:`TableStore` manifests and the ``StateStore`` keys (Delta writes its
log entries the same way: Armbrust et al., VLDB 2020, §3).

Version n is written in full to a tmp file and hard-linked to
``path_of(n)``: the link fails when n is taken, so of two racing writers
exactly one wins, and a version file is complete once it exists. The
pointer is swapped after the link, so it is only a hint that readers step
forward from.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable


def read_latest(pointer: str, path_of: Callable[[int], str]) -> dict | None:
    """The newest published document (None if none): the pointer's, stepped
    forward past each version published after it."""
    try:
        with open(pointer) as f:
            doc = json.load(f)
    except FileNotFoundError:
        doc = None
    v = -1 if doc is None else doc["version"]
    while os.path.exists(path_of(v + 1)):
        v += 1
        with open(path_of(v)) as f:
            doc = json.load(f)
    return doc


def publish(pointer: str, path_of: Callable[[int], str], doc: dict) -> None:
    """Publish ``doc`` as version ``doc["version"]`` and point ``pointer``
    at it. Raises ``FileExistsError`` when another writer already published
    that version; nothing is then changed."""
    tmp = f"{pointer}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(doc, f, indent=1)
    try:
        os.link(tmp, path_of(doc["version"]))
    except FileExistsError:
        os.remove(tmp)
        raise
    os.replace(tmp, pointer)
