#!/usr/bin/env python3
"""Regenerate BASELINE_BENCH.json from a full-catalog Bench run
(driver-side tooling only; the Scala library has no Python dependency).

Usage: make_baseline.py <bench_out.json> <source_note>

Per BASELINE.md's regeneration policy the baseline is re-recorded from a
quiet-session run that timed every catalog entry, in the same commit as a
methodology or optimization change. Bench times the whole catalog once
SPARK_GRAFT_WARMUP_BUDGET_SEC and SPARK_GRAFT_BENCH_BUDGET_SEC are large
enough that its warm pass leaves nothing cold and its budget fit drops
nothing (about 900 and 2700 at sf0.1).
"""
import json, sys

OUT_PATH = "BASELINE_BENCH.json"

def main(bench_path, note):
    b = json.load(open(bench_path))
    if b.get("partial"):
        sys.exit("refusing: bench run is partial")
    if b.get("sweeps_completed", 0) < 2:
        sys.exit("refusing: need >= 2 completed sweeps")
    # deadlined samples are excluded from the run's own ratio — recording
    # them as denominators would bake a host stall window into every
    # future comparison
    if b.get("deadlined"):
        sys.exit(f"refusing: deadlined samples {b['deadlined']}")
    # a run the warm pass or the budget fit shrank covers only part of the
    # catalog; the missing entries would have no denominator
    if b.get("timed") is not None and b.get("timed") != b.get("catalog"):
        sys.exit(f"refusing: shrunk run ({b['timed']}/{b['catalog']} "
                 f"timed) — re-run with larger SPARK_GRAFT_WARMUP_BUDGET_SEC "
                 f"and SPARK_GRAFT_BENCH_BUDGET_SEC")
    queries = {k: v for k, v in sorted(b["queries"].items()) if v >= 0}
    out = {
        "cpus": 32,
        "shuffle_partitions": 32,
        "production_sec": b["production_sec"],
        "verification_sec": b["verification_sec"],
        "total_sec": b["production_sec"] + b["verification_sec"],
        "verification_only": sorted(
            k for k in queries if k.endswith("_portable")),
        "sf": b["sf"],
        "source": note,
        "queries": queries,
    }
    json.dump(out, open(OUT_PATH, "w"), indent=1, sort_keys=False)
    print(f"wrote {OUT_PATH}: {len(queries)} queries, "
          f"production {b['production_sec']:.1f}s")

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
