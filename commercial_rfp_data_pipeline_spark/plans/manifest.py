"""The manifest commit protocol every durable index and artifact uses.

An index root holds staged table dirs plus one ``MANIFEST.json`` that
names what is live. Readers resolve dirs only through the manifest, so
staging is invisible until `commit_manifest` replaces the file in one
``os.replace``: a crash at any earlier point leaves orphan dirs that a
retry overwrites, never a half-published index.
"""

from __future__ import annotations

import json
import os


def read_manifest(root: str) -> dict | None:
    """The committed manifest at ``root``, or None if nothing is
    committed there (no file, or an unreadable one)."""
    try:
        with open(os.path.join(root, "MANIFEST.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def commit_manifest(root: str, manifest: dict) -> None:
    """Single atomic commit point: tmp write + os.replace (POSIX rename
    atomicity) — everything staged before this call is invisible until
    it lands, so no reader ever sees a table without its siblings."""
    tmp = os.path.join(root, "MANIFEST.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(root, "MANIFEST.json"))
