"""One-time build of the benchmark's inputs in a checkout, each part in a
process of its own:

- ``catalog``: the catalog_slice tables and the fixture caches the slice
  fills on first use (``catalog_slice.build``);
- ``serve_store``: the store serve_live starts from
  (``lifecycle.build_serve_store``).

Every run calls ``ensure_built()`` first, so the first run in a checkout
pays for all of it and no later run does.  Delete ``.perfbench/build/``
to rebuild.

    python3 perfbench/build.py catalog|serve_store
"""

from __future__ import annotations

import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from common import ROOT, WORK  # noqa: E402

PARTS = ("catalog", "serve_store")


def done(part: str) -> Path:
    return WORK / "build" / f"{part}.done"


def ensure_built() -> dict[str, float]:
    """Build the missing parts; returns seconds spent per part built."""
    spent = {}
    for part in PARTS:
        if not done(part).exists():
            t = time.perf_counter()
            subprocess.run([sys.executable, __file__, part], cwd=ROOT, check=True,
                           stdout=sys.stderr)
            spent[part] = time.perf_counter() - t
    return spent


def main(part: str) -> None:
    sys.path.insert(0, str(ROOT))
    if part == "catalog":
        from catalog_slice import build
    else:
        from lifecycle import build_serve_store as build
    build()
    done(part).write_text("")


if __name__ == "__main__":
    if sys.argv[1:2] not in ([p] for p in PARTS):
        sys.exit(f"usage: build.py {'|'.join(PARTS)}")
    main(sys.argv[1])
