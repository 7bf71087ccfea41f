#!/usr/bin/env python3
"""Regenerate BASELINE_BENCH.json from a full-catalog Bench run
(driver-side tooling only; the Scala library has no Python dependency).

Usage: make_baseline.py <bench_out.json> <core_list.json> <source_note>

Per BASELINE.md's regeneration policy the baseline is re-recorded from a
quiet-session full run (SPARK_GRAFT_BENCH_ALL=1) in the same commit as a
methodology or optimization change. This tool also embeds the round-12
sharding contract:
  - "core":       entries Bench times EVERY round,
  - "rotation_k": the non-core entries rotate across this many rounds.
"""
import json, os, sys

OUT_PATH = "BASELINE_BENCH.json"

def main(bench_path, core_path, note):
    b = json.load(open(bench_path))
    core = json.load(open(core_path))
    if b.get("partial"):
        sys.exit("refusing: bench run is partial")
    if b.get("rotation_timed") is False:
        sys.exit("refusing: rotation slice was not timed")
    if b.get("sweeps_completed", 0) < 2:
        sys.exit("refusing: need >= 2 completed sweeps")
    # round-20: deadlined samples are excluded from the run's own ratio
    # — recording them as denominators would bake a host stall window
    # into every future comparison
    if b.get("deadlined"):
        sys.exit(f"refusing: deadlined samples {b['deadlined']}")
    # a routine sharded round passes the two checks above yet covers
    # only ~2/3 of the catalog; recording it would leave the rotation
    # entries permanently "new" (always timed) and break the sweep
    # budget arithmetic — require a BENCH_ALL artifact
    if b.get("timed") is not None and b.get("timed") != b.get("catalog"):
        sys.exit(f"refusing: sharded run ({b['timed']}/{b['catalog']} "
                 f"timed) — re-run with SPARK_GRAFT_BENCH_ALL=1")
    queries = {k: v for k, v in sorted(b["queries"].items()) if v >= 0}
    missing = [c for c in core if c not in queries]
    if missing:
        sys.exit(f"refusing: core entries missing from run: {missing}")
    out = {
        "cpus": 32,
        "shuffle_partitions": 32,
        "production_sec": b["production_sec"],
        "verification_sec": b["verification_sec"],
        "total_sec": b["production_sec"] + b["verification_sec"],
        "verification_only": sorted(
            k for k in queries if k.endswith("_portable")),
        "sf": b["sf"],
        # r19 verdict item 2: re-records at the 273-entry catalog use
        # rotation_k 4 so the per-round sweep stays ~135 entries
        "rotation_k": int(os.environ.get("GRAFT_ROTATION_K", "4")),
        "core": sorted(core),
        "source": note,
        "queries": queries,
    }
    json.dump(out, open(OUT_PATH, "w"), indent=1, sort_keys=False)
    print(f"wrote {OUT_PATH}: {len(queries)} queries, "
          f"{len(core)} core, production {b['production_sec']:.1f}s")

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3])
