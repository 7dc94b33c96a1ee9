"""Generate star-schema table directories with tools/gen_sf.py in one
Spark session, then stamp each with its content fingerprint.

    python3 perfbench/gendata.py --sf 0.1 --out DIR [--sf 0.02 --out DIR2 ...]

Each directory is written under a temporary name and renamed when it
is complete, so a cut-off run leaves no directory that looks finished.
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.inputs import GEN_SF, _publish, data_fingerprint  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, action="append", required=True)
    ap.add_argument("--out", action="append", required=True)
    args = ap.parse_args()
    if len(args.sf) != len(args.out):
        ap.error("give one --out per --sf")

    spec = importlib.util.spec_from_file_location("gen_sf", GEN_SF)
    gen_sf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_sf)
    from data_engineering_challenge_spark.session import get_session

    spark = get_session("perfbench-gendata")
    try:
        for sf, out in zip(args.sf, args.out):
            tmp = f"{out}.{os.getpid()}.tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            gen_sf.generate(spark, sf, tmp)
            with open(os.path.join(tmp, "FINGERPRINT"), "w") as f:
                f.write(data_fingerprint(tmp) + "\n")
            _publish(tmp, out)
            print(f"generated sf{sf} at {out}", file=sys.stderr)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
