"""Package opennre_spark for spark-submit --py-files (north rule: the
job runs via spark-submit on a multi-executor cluster).

Usage: python tools/make_pyfiles.py [OUT]  ->  OUT (default
dist/opennre_spark.zip). The zip is a build output, not kept in git.
"""

from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(out: str | None = None) -> str:
    out = out or os.path.join(REPO, "dist", "opennre_spark.zip")
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    pkg = os.path.join(REPO, "opennre_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
        # data fixtures the package opens relative to its own __file__
        # (relations.wiki80_rel2id / nyt10_rel2id, checkpoint fixtures):
        # executors importing from the zip need them INSIDE the zip too
        fixtures = os.path.join(REPO, "fixtures")
        for f in sorted(os.listdir(fixtures)):
            if f.endswith((".json", ".npz")):
                full = os.path.join(fixtures, f)
                z.write(full, os.path.relpath(full, REPO))
    print(out)
    return out


if __name__ == "__main__":
    main(*sys.argv[1:2])
