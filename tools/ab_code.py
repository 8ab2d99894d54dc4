"""Interleaved same-session A/B of a REGISTERED query vs a CANDIDATE variant
builder, counterbalanced ABBA, wall + JVM CPU per run (see ab_conf.py for the
rationale).  Asserts result parity first: the variant must produce the exact
same rows (collected, sorted) as the registered query before any timing.

    python tools/ab_code.py --name decontaminate_eval_overlap \
        --variant tools.r13_variants:decontaminate_eval_overlap_v2 [--reps 2]

(`tools/r13_variants.py` was deleted; `git show 2429624:tools/r13_variants.py`
restores it.)
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

os.environ.setdefault("SPARK_GRAFT_CACHE_TABLES", "0")

from map_reduce485_spark import get_spark
from map_reduce485_spark.queries import REGISTRY, _load_all
from map_reduce485_spark.queries._util import release_scoped_caches

_TICK = os.sysconf("SC_CLK_TCK")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--name", required=True)
    ap.add_argument("--variant", required=True, help="module:function")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--skip-parity", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    _load_all()
    mod, fn_name = args.variant.split(":")
    variant = getattr(importlib.import_module(mod), fn_name)
    base = REGISTRY[args.name].fn

    spark = get_spark("ab_code")
    spark.range(1000).selectExpr("sum(id)").collect()
    jpid = int(spark._jvm.ProcessHandle.current().pid())
    stat_path = f"/proc/{jpid}/stat"

    def jvm_cpu() -> float:
        parts = open(stat_path).read().rsplit(")", 1)[1].split()
        return (int(parts[11]) + int(parts[12])) / _TICK

    if not args.skip_parity:
        a = base(spark, args.sf_dir)
        b = variant(spark, args.sf_dir)
        assert a.schema == b.schema, f"schema mismatch:\n{a.schema}\n{b.schema}"
        ra = sorted(map(str, a.collect()))
        rb = sorted(map(str, b.collect()))
        assert ra == rb, (
            f"ROW MISMATCH: {len(ra)} vs {len(rb)} rows; "
            f"first diff: {next(((x, y) for x, y in zip(ra, rb) if x != y), None)}"
        )
        release_scoped_caches()
        print(f"parity OK: {len(ra)} rows identical", flush=True)

    def run_once(fn) -> tuple[float, float]:
        c0, t0 = jvm_cpu(), time.perf_counter()
        fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, jvm_cpu() - c0

    def block(fn, reps: int) -> tuple[list[tuple[float, float]], tuple[float, float]]:
        """Returns (timed reps, cold run).  The first run after the scoped-
        cache release pays cache materialization — recorded separately
        (round-13 advice: cache-adding variants must show their cold cost,
        not just warm re-execution)."""
        release_scoped_caches()
        first = run_once(fn)
        out = [run_once(fn) for _ in range(reps)]
        release_scoped_caches()
        return out, first

    spark._jvm.System.gc()
    ra, rb, colda, coldb = [], [], [], []
    r, c = block(base, args.reps)
    ra += r
    colda.append(c)
    r, c = block(variant, args.reps)
    rb += r
    coldb.append(c)
    r, c = block(variant, args.reps)
    rb += r
    coldb.append(c)
    r, c = block(base, args.reps)
    ra += r
    colda.append(c)
    wa, ca = min(r[0] for r in ra), min(r[1] for r in ra)
    wb, cb = min(r[0] for r in rb), min(r[1] for r in rb)
    cwa, cca = min(r[0] for r in colda), min(r[1] for r in colda)
    cwb, ccb = min(r[0] for r in coldb), min(r[1] for r in coldb)
    print(
        f"{args.name}: wall base={wa:.3f} variant={wb:.3f} ({wb / wa:.3f})  "
        f"cpu base={ca:.2f} variant={cb:.2f} ({cb / ca:.3f})\n"
        f"  COLD: wall base={cwa:.3f} variant={cwb:.3f} ({cwb / cwa:.3f})  "
        f"cpu base={cca:.2f} variant={ccb:.2f} ({ccb / cca if cca else 0:.3f})\n"
        f"  rawWallBase={[round(r[0], 3) for r in ra]} rawWallVar={[round(r[0], 3) for r in rb]}\n"
        f"  rawCpuBase={[round(r[1], 2) for r in ra]} rawCpuVar={[round(r[1], 2) for r in rb]}"
    )


if __name__ == "__main__":
    main()
