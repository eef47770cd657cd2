"""Pin the curation funnel counts and the Jaccard/SimHash pair-set
digests for a range of seeds, from the current engine:

    python3 perfbench/pin.py --seeds 0-24

Writes ``perfbench/pins.json``. ``corpus_curation`` compares every
pass with the pin for its seed, when there is one. Re-pin only when
the corpus generator or the dedup parameters change, never to make a
changed engine result pass.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, run  # noqa: E402
from perfbench.workloads import (PINS, CorpusCuration,  # noqa: E402
                                 corpus_params)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    work = os.path.join(run.RUN_DIR, "work", f"pin-{os.getpid()}")
    spark = run.session(work, trace=False)
    seeds = {}
    try:
        for seed in range(lo, hi + 1):
            wl = CorpusCuration(spark, work, seed)
            wl.corpus = gen.corpus(seed)
            wl.passes = [wl._pass(wl.corpus, f"seed-{seed}")]
            ok, _, _, errors = wl.check()
            if not ok:
                print(f"seed {seed}: {errors}", file=sys.stderr)
                return 1
            seeds[str(seed)] = {
                "funnel": [n for _, n in wl.passes[0].funnel],
                "jaccard": wl.digests["jaccard"],
                "simhash": wl.digests["simhash"]}
            print(seed, seeds[str(seed)]["funnel"], flush=True)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(PINS, "w") as f:
        json.dump({"params": corpus_params(), "seeds": seeds}, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
