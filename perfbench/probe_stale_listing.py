"""Reproduce the stale directory listing of ``hyperspectral_flow``:
three calls over one directory, one new FAKE-EMD file before each
call, in three variants: ``processed=None``; ``processed`` = the
earlier manifests; the same with ``spark.catalog.clearCache()``
before each call.

    python3 perfbench/probe_stale_listing.py

Prints, per variant, the manifest size and the publish document's
``n_files`` of each call. A correct engine lists 1, 2, 3 files with
``processed=None`` and 1, 1, 1 new files in the other two variants.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, run  # noqa: E402


def main() -> int:
    from picoprobedataflow_spark import flows
    work = os.path.join(run.RUN_DIR, "work", f"probe-{os.getpid()}")
    spark = run.session(work, trace=False)
    try:
        for k, variant in enumerate(("processed=None",
                                     "processed=earlier manifests",
                                     "same + clearCache before each call")):
            watch = os.path.join(work, f"watch-{k}")
            os.makedirs(watch)
            rows: list = []
            sizes, n_files = [], []
            for i in range(3):
                gen.write_atomic(os.path.join(watch, f"f-{i}.emd"),
                                 gen.hs_file(0, i, 0.0))
                if k == 2:
                    spark.catalog.clearCache()
                processed = (spark.createDataFrame(
                    rows, "path string, sha256 string")
                    if rows and k > 0 else None)
                res = flows.hyperspectral_flow(spark, watch, None,
                                               processed=processed)
                man = [tuple(r) for r in
                       res.manifest.select("path", "sha256").collect()]
                rows += man
                sizes.append(len(man))
                n_files.append(sum(r.n_files for r in
                                   res.publish_docs.select("n_files").collect()))
            print(f"{variant}: manifest sizes {sizes}, n_files {n_files}")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
