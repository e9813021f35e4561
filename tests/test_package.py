"""spark-submit --py-files contract: the package zip built by
tools/package.py must be importable on its own (no repo checkout on the
executors) and stay in sync with the source tree."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_zip_imports_standalone(tmp_path):
    out = subprocess.run(
        [sys.executable, str(REPO / "tools" / "package.py")],
        capture_output=True, text=True, check=True,
    )
    zip_path = out.stdout.strip().splitlines()[-1]
    probe = (
        "import sys; sys.path.insert(0, sys.argv[1]);\n"
        "import gfs_to_prometheus_spark.codecs as c\n"
        "import gfs_to_prometheus_spark.queries  # registry import chain\n"
        "import numpy as np\n"
        "ts = np.array([0, 1000, 2000, 3500], dtype=np.int64)\n"
        "assert (c.dod_decode(c.dod_encode(ts), len(ts)) == ts).all()\n"
        "print('ok')\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", probe, zip_path],
        capture_output=True, text=True,
        cwd=str(tmp_path),  # not the repo: the zip must be self-sufficient
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.strip().endswith("ok")


def test_zip_tracks_source_tree():
    zip_path = REPO / "dist" / "gfs_to_prometheus_spark.zip"
    if not zip_path.exists():  # dist/ is gitignored — build on demand
        subprocess.run(
            [sys.executable, str(REPO / "tools" / "package.py")],
            capture_output=True, text=True, check=True,
        )
    with zipfile.ZipFile(zip_path) as z:
        in_zip = {n: z.read(n) for n in z.namelist() if n.endswith(".py")}
    on_disk = {
        str(p.relative_to(REPO)): p.read_bytes()
        for p in (REPO / "gfs_to_prometheus_spark").rglob("*.py")
        if "__pycache__" not in str(p)
    }
    # bytes, not just names: a zip built before a source edit would ship
    # the old code to the executors
    names = on_disk.keys() | in_zip.keys()
    stale = sorted(k for k in names if in_zip.get(k) != on_disk.get(k))
    assert not stale, f"stale dist zip — rerun tools/package.py: {stale}"
