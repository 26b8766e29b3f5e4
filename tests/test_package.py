"""The committed deploy artifact (``engine.zip``, shipped with
``spark-submit --py-files``) must hold exactly the package sources in the
tree. Rebuild it with ``make package`` after any change under
``harvester_fgp_spark/``."""

from __future__ import annotations

import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_engine_zip_matches_tree():
    with zipfile.ZipFile(ROOT / "engine.zip") as z:
        zipped = {n: z.read(n) for n in z.namelist() if n.endswith(".py")}
    tree = {
        p.relative_to(ROOT).as_posix(): p.read_bytes()
        for p in (ROOT / "harvester_fgp_spark").rglob("*.py")
        if "__pycache__" not in p.parts
    }
    assert sorted(zipped) == sorted(tree), "run `make package`"
    stale = sorted(n for n in tree if zipped[n] != tree[n])
    assert not stale, f"engine.zip is stale for {stale}; run `make package`"
