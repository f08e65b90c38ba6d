"""Storage measurements of a lake directory."""

from __future__ import annotations

import os


def dir_bytes(root: str) -> int:
    """Bytes of every regular file under ``root``."""
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except FileNotFoundError:
                pass  # staging file published or removed meanwhile
    return total


def live_bytes(table) -> int:
    """Bytes of the data files in a VersionedTable's current snapshot."""
    return sum(os.path.getsize(table.log.abs_path(f.path))
               for f in table.snapshot().files)
