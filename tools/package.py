"""Build dist/sketchlib.zip for ``spark-submit --py-files`` deployment.

Usage: python tools/package.py [out_path]   ->  dist/sketchlib.zip

A thin CLI over ``sketchlib.spark.shipping.build_zip``, the same builder
that ships the package to executors at run time.
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from sketchlib.spark.shipping import build_zip  # noqa: E402

if __name__ == "__main__":
    print(build_zip(sys.argv[1] if len(sys.argv) > 1
                    else os.path.join(REPO, "dist", "sketchlib.zip")))
