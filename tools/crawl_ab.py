"""One driver-protocol crawl_bench leg: 100k pages / 1000 hosts, disk
warehouse, no warmup — exactly what bench.py main() times.  Prints one
JSON line with elapsed, throughput, epoch seconds and stage timings.

Usage: python tools/crawl_ab.py [n_pages]
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_hosts = max(n_pages // 100, 16)
    from bench import crawl_bench
    from crawler_pyspider_spark.session import driver_mem_default, get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", driver_mem_default())

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="crawl_ab", cores=cpus, shuffle_partitions=cpus,
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "4096"},
    )
    t0 = time.monotonic()
    res = crawl_bench(spark, n_pages, n_hosts)
    out = {
        "elapsed_sec": round(res["elapsed_sec"], 2),
        "throughput_urls_per_sec": round(res["throughput_urls_per_sec"], 1),
        "epoch_secs": res["epoch_secs"],
        "wall_total": round(time.monotonic() - t0, 2),
        "epoch_metrics": res["epoch_metrics"],
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
