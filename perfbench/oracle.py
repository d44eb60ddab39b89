"""Result fingerprint shared by the DuckDB side (``prepare.py``) and the
Spark side (``run.py``) of the output check.

The canonical form is the repository's differential checker's
(``tools/check_correctness.canon_rows``: columns sorted by name, cells
rendered engine-neutrally, rows sorted). It is reduced to a row count and
a SHA-256, so only the digest crosses the process boundary.
"""

from __future__ import annotations

import hashlib
from typing import Any, Iterable, Sequence


def digest(columns: Sequence[str], rows: Iterable[Sequence[Any]]) -> dict[str, Any]:
    """Order-insensitive fingerprint of a result: sorted column names, row
    count and the SHA-256 of the canonical rows."""
    from tools.check_correctness import canon_rows

    lines = canon_rows(list(columns), list(rows))
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"columns": sorted(columns), "rows": len(lines), "sha256": h.hexdigest()}
