"""Seen-filter tier comparison at the 1M-page scaling config.

The round-3 scaling evidence ran ``seen_filter="exact"`` (the dedup
decision is a plain merge join) while the 10^10-scale story rests on
the cuckoo-filter tier — so the filter tier's throughput cost/benefit at
bench scale was unmeasured.  This tool measures it:

1. **Cost at 4N**: paired-alternating ``exact`` vs ``cuckoo`` legs at
   local[32] (same world, fresh JVM per leg, equal cooldown, order
   alternates) — the within-pair ratio is the tier's throughput cost at
   a scale where the exact join is still affordable.
2. **Cuckoo scaling pair**: one local[8] vs local[32] pair with
   ``seen_filter="cuckoo"`` — raw + occupancy efficiency of the filter
   path itself (same protocol as tools/scaling_bench.py).

Writes ``BENCH/filter_tier.json``; ``tools/scaling_bench.py
--report-only`` folds it into ``BENCH/BASELINE.md``.

Usage: ``python tools/filter_tier_bench.py [sf_dir]`` (default sf0.1,
~1 h wall: 6 legs x ~7 min + cooldowns).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LO, HI = 8, 32
COOLDOWN_SEC = 90


def run_once(cpus: int, sf_dir: str, seen_filter: str) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_MODE="crawl",
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_SEEN_FILTER=seen_filter,
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env, capture_output=True, text=True, timeout=3600, check=True,
    )
    for d in ("/dev/shm/spark_graft_local", "/dev/shm/spark_graft_wh"):
        shutil.rmtree(d, ignore_errors=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def slim(r: dict) -> dict:
    return {
        "throughput_urls_per_sec": round(r["throughput_urls_per_sec"], 1),
        "elapsed_sec": round(r["elapsed_sec"], 2),
        "epoch_secs": r.get("epoch_secs"),
        "epoch_metrics": r.get("epoch_metrics"),
        "sum_task_cpu_sec": r.get("sum_task_cpu_sec"),
        "sum_task_gc_sec": r.get("sum_task_gc_sec"),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    # 1 — tier cost at local[32], paired alternating (2 pairs)
    tier_pairs = []
    for order in (("exact", "cuckoo"), ("cuckoo", "exact")):
        pair: dict = {"order": list(order)}
        for tier in order:
            time.sleep(COOLDOWN_SEC)
            pair[tier] = slim(run_once(HI, sf_dir, tier))
            print(
                f"tier {tier} @ local[{HI}]: "
                f"{pair[tier]['throughput_urls_per_sec']:.0f} urls/s",
                file=sys.stderr,
            )
        pair["cuckoo_over_exact"] = round(
            pair["cuckoo"]["throughput_urls_per_sec"]
            / pair["exact"]["throughput_urls_per_sec"],
            3,
        )
        tier_pairs.append(pair)

    # 2 — cuckoo-path scaling pair (local[8] vs local[32])
    time.sleep(COOLDOWN_SEC)
    lo = slim(run_once(LO, sf_dir, "cuckoo"))
    time.sleep(COOLDOWN_SEC)
    hi = slim(run_once(HI, sf_dir, "cuckoo"))
    thr_lo, thr_hi = lo["throughput_urls_per_sec"], hi["throughput_urls_per_sec"]
    eff = round((thr_hi / thr_lo) / (HI / LO), 3) if thr_lo else 0.0
    occ = None
    if lo.get("sum_task_cpu_sec") and hi.get("sum_task_cpu_sec"):
        occ = round(
            (thr_hi / thr_lo)
            * (hi["sum_task_cpu_sec"] / lo["sum_task_cpu_sec"])
            / (HI / LO),
            3,
        )

    out = {
        "sf_dir": sf_dir,
        "protocol": (
            "paired-alternating exact-vs-cuckoo at local[32] (tier cost), "
            "plus one local[8]-vs-local[32] cuckoo pair (tier scaling)"
        ),
        "tier_pairs": tier_pairs,
        "cuckoo_over_exact_median": round(
            statistics.median(p["cuckoo_over_exact"] for p in tier_pairs), 3
        ),
        "cuckoo_scaling_pair": {
            str(LO): lo,
            str(HI): hi,
            "efficiency": eff,
            "occupancy_efficiency": occ,
        },
    }
    os.makedirs(f"{REPO}/BENCH", exist_ok=True)
    with open(f"{REPO}/BENCH/filter_tier.json", "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
