"""Stage-level scaling profile of the crawl bench.

Runs ONE crawl_bench at ``$SPARK_GRAFT_CPUS`` with the Spark event log
enabled, then aggregates the log per stage: wall duration, summed task
run/GC/serialization time, shuffle bytes, task count.  Comparing the
output at 8 vs 32 cores pinpoints WHICH stages fail to scale (driver
gaps, GC, skew, bandwidth saturation) instead of guessing from epoch
timers.  Stages that scan a Python RDD (a ``PythonRDD`` in their RDD
lineage, e.g. a DataFrame made from a Python list) are flagged and
counted in the summary: outside the pandas UDFs the engine should
start no Python worker.

Usage: SPARK_GRAFT_CPUS=32 python tools/stage_profile.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run_and_profile(cpus: int, out_path: str) -> dict:
    from crawler_pyspider_spark.session import driver_mem_default, get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", driver_mem_default())
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark_graft_local")
    os.environ.setdefault("SPARK_GRAFT_WH_DIR", "/dev/shm/spark_graft_wh")
    os.makedirs(os.environ["SPARK_GRAFT_WH_DIR"], exist_ok=True)
    evdir = tempfile.mkdtemp(prefix="spark_events_")

    from bench import crawl_bench

    spark = get_spark(
        app_name=f"stage_profile_{cpus}",
        cores=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
            "spark.sql.join.preferSortMergeJoin": "false",
        },
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    n_pages = max(int(sf * 10_000_000), 2000)
    n_hosts = max(n_pages // 100, 16)
    # warmup (untimed, same as scaling bench)
    crawl_bench(spark, n_pages=20_000, n_hosts=200, epochs=2)
    res = crawl_bench(spark, n_pages, n_hosts)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    stages = parse_event_dir(evdir, app_id)
    top = sorted(stages.items(), key=lambda kv: -kv[1]["wall_ms"])
    py = [s for s in stages.values() if s["python_rdd"]]
    out = {
        "cpus": cpus,
        "throughput_urls_per_sec": res["throughput_urls_per_sec"],
        "elapsed_sec": res["elapsed_sec"],
        "epoch_secs": res["epoch_secs"],
        "sum_stage_wall_sec": round(sum(s["wall_ms"] for s in stages.values()) / 1e3, 1),
        "sum_run_sec": round(sum(s["run_ms"] for s in stages.values()) / 1e3, 1),
        "sum_gc_sec": round(sum(s["gc_ms"] for s in stages.values()) / 1e3, 1),
        "python_rdd_stages": len(py),
        "python_rdd_run_sec": round(sum(s["run_ms"] for s in py) / 1e3, 1),
        "stages": [
            {
                "id": sid,
                **{
                    k: (round(v, 1) if isinstance(v, float) else v)
                    for k, v in st.items()
                },
            }
            for sid, st in top[:40]
        ],
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps({k: out[k] for k in (
        "cpus", "throughput_urls_per_sec", "elapsed_sec",
        "sum_stage_wall_sec", "sum_run_sec", "sum_gc_sec",
        "python_rdd_stages", "python_rdd_run_sec")}))
    return out


def parse_event_dir(evdir: str, app_id: str) -> dict[int, dict]:
    """Aggregate per-stage metrics from a Spark event log — handles both
    single-file logs and Spark 4's rolling ``eventlog_v2_<app>/``
    directories."""
    paths = []
    for fn in sorted(os.listdir(evdir)):
        if app_id not in fn:
            continue
        p = os.path.join(evdir, fn)
        if os.path.isdir(p):
            paths.extend(
                os.path.join(p, f)
                for f in sorted(os.listdir(p))
                if f.startswith("events_") and not f.endswith(".zstd")
            )
        else:
            paths.append(p)
    assert paths, f"no event log for {app_id} in {evdir}"
    stages: dict[int, dict] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                et = ev.get("Event")
                if et == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sid = si["Stage ID"]
                    st = stages.setdefault(sid, _zero())
                    st["name"] = si["Stage Name"].split("\n")[0][:80]
                    sub, comp = si.get("Submission Time"), si.get("Completion Time")
                    if sub and comp:
                        st["wall_ms"] = comp - sub
                    st["n_tasks"] = si.get("Number of Tasks", 0)
                    st["python_rdd"] = any(
                        r.get("Name") == "PythonRDD" for r in si.get("RDD Info", [])
                    )
                elif et == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    st = stages.setdefault(sid, _zero())
                    tm = ev.get("Task Metrics") or {}
                    st["run_ms"] += tm.get("Executor Run Time", 0)
                    st["gc_ms"] += tm.get("JVM GC Time", 0)
                    st["deser_ms"] += tm.get("Executor Deserialize Time", 0)
                    st["result_ser_ms"] += tm.get("Result Serialization Time", 0)
                    srm = tm.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_mb"] += (
                        srm.get("Local Bytes Read", 0) + srm.get("Remote Bytes Read", 0)
                    ) / 1e6
                    swm = tm.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_mb"] += swm.get("Shuffle Bytes Written", 0) / 1e6
                    st["spill_mb"] += (
                        tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    ) / 1e6
    return stages


def _zero() -> dict:
    return {
        "name": "", "wall_ms": 0, "n_tasks": 0, "python_rdd": False,
        "run_ms": 0, "gc_ms": 0,
        "deser_ms": 0, "result_ser_ms": 0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
    }


if __name__ == "__main__":
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    out = sys.argv[1] if len(sys.argv) > 1 else f"/tmp/stage_profile_{cpus}.json"
    run_and_profile(cpus, out)
