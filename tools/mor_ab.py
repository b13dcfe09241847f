"""MoR-vs-copy-on-write frontier A/B at the driver bench protocol.

Runs alternating crawl legs in ONE session (disk warehouse, growth
regime: 3 epochs from a half-world seed burst) comparing the shipped
merge-on-read frontier (delta commits + threshold compaction) against
copy-on-write (``frontier_compact_ratio=0.0`` — every commit rewrites
the full frontier, the round-3 regime).  Alternating leg order inside
one session keeps both variants in near-identical host windows — this
VM's documented 2-3x weather swings otherwise dominate the comparison
(see tools/scaling_bench.py).  The first leg of each variant is warmup-
biased (cold plan shapes), so legs run [A, B, B, A] and each variant is
reported as its BEST leg plus all raw legs.

Usage: python tools/mor_ab.py [n_pages]  (default 100000)
Prints one JSON line consumed by BENCH/BASELINE.md's regime table.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_hosts = max(n_pages // 100, 16)
    from bench import crawl_bench
    from crawler_pyspider_spark.session import driver_mem_default, get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", driver_mem_default())

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="mor_ab", cores=cpus, shuffle_partitions=cpus,
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "4096"},
    )
    variants = {
        # shipped defaults: small bases always compact (growth regime is
        # copy-on-write), large bases commit deltas until ratio·base
        "mor": {},
        # pure copy-on-write: ratio=0.0 rewrites the full frontier on
        # every commit (cow_max_rows=0 only turns the small-base
        # trigger off)
        "cow": {"frontier_cow_max_rows": 0, "frontier_compact_ratio": 0.0},
        # pure merge-on-read: delta-only commits after the first base
        "delta": {"frontier_cow_max_rows": 0,
                  "frontier_compact_ratio": 1e18},
    }
    order = (sys.argv[2].split(",") if len(sys.argv) > 2
             else ["mor", "cow", "cow", "mor"])
    legs = []
    for name in order:
        r = crawl_bench(spark, n_pages, n_hosts, engine_kwargs=variants[name])
        legs.append({
            "variant": name,
            "elapsed_sec": round(r["elapsed_sec"], 2),
            "throughput_urls_per_sec": round(r["throughput_urls_per_sec"], 1),
            "epoch_secs": r["epoch_secs"],
        })
    ran = sorted({l["variant"] for l in legs})
    best = {
        v: max(
            (l for l in legs if l["variant"] == v),
            key=lambda l: l["throughput_urls_per_sec"],
        )
        for v in ran
    }
    out = {"n_pages": n_pages, "cpus": cpus, "legs": legs, "best": best}
    if len(ran) == 2:
        a, b = ran
        out[f"{a}_over_{b}"] = round(
            best[a]["throughput_urls_per_sec"]
            / best[b]["throughput_urls_per_sec"],
            3,
        )
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
