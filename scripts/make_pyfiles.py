"""Build bluegraph_spark.zip for spark-submit --py-files.

Stdlib-only (no build backend needed on cluster edge nodes). The zip goes
to ``dist/`` of the checkout unless an output directory is given:

    python scripts/make_pyfiles.py [OUT_DIR]
    spark-submit --py-files dist/bluegraph_spark.zip scripts/submit_job.py ...
"""

from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(out_dir: str | None = None) -> str:
    dist = out_dir or os.path.join(REPO, "dist")
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, "bluegraph_spark.zip")
    pkg = os.path.join(REPO, "bluegraph_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for name in sorted(files):
                if not name.endswith(".py"):
                    continue
                full = os.path.join(root, name)
                zf.write(full, os.path.relpath(full, REPO))
    print(out)
    return out


if __name__ == "__main__":
    main(*sys.argv[1:2])
