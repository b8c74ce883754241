"""Canonical output digest shared by the recorder and the benchmark."""

from __future__ import annotations

import hashlib

from tools.canon import canon_rows


def digest(columns: list[str], rows) -> dict:
    """Order-insensitive digest of a result: sorted column names, row
    count and the sha256 of its canonical rows (tools/canon.py)."""
    h = hashlib.sha256()
    for line in canon_rows(columns, rows):
        h.update(line.encode())
        h.update(b"\n")
    return {"columns": sorted(columns), "rows": len(rows), "sha256": h.hexdigest()}
