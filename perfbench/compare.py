#!/usr/bin/env python3
"""Compare two run records like with like.

    python3 perfbench/compare.py BASE.json NEW.json

Records are the files ``run.py`` writes under ``.perfbench/records/``.
Two records compare only when they ran the same workload in the same
trace mode at the same scale on the same number of cores: a figure taken
on 8 cores says nothing about one taken on 32. Otherwise the script
refuses, with exit code 2.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path
from typing import Any

LIKE = ("workload", "trace", "sf", "cpus")


def comparable(a: dict[str, Any], b: dict[str, Any]) -> list[str]:
    """The stamp fields on which two records differ but must not."""
    return [k for k in LIKE if a["stamp"].get(k) != b["stamp"].get(k)]


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (json.loads(Path(p).read_text()) for p in argv)
    differ = comparable(base, new)
    if differ:
        for k in differ:
            print(f"refused: {k} differs ({base['stamp'].get(k)} vs {new['stamp'].get(k)})",
                  file=sys.stderr)
        return 2
    print(f"{'metric':48} {'base':>12} {'new':>12} {'new/base':>9}")
    for name, m in base["metrics"].items():
        b, n = m["value"], new["metrics"].get(name, {}).get("value")
        ratio = f"{n / b:9.3f}" if n is not None and b else f"{'-':>9}"
        print(f"{name:48} {b:12.4f} {n if n is not None else float('nan'):12.4f} {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
