"""Crawl benchmark: one command per workload, end-to-end metrics by
default, per-layer metrics with ``--trace 1``.

    python3 perfbench/run.py --workload crawl_growth --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository.  It starts Spark
on ``local[nproc]`` with the engine's default configuration, builds the
workload's world from ``--seed``, runs one untimed epoch, times epochs
for at least ``--seconds`` seconds, checks what the engine committed
and prints, as its last line, one JSON object::

    {"correct": true, "attempted": 7, "failed": 0,
     "metrics": {"setup_s": {"value": 41.2, "unit": "s"}, ...}}

The line before it holds the run's details: host, calibration probe,
Spark conf, the seed, every epoch's counters and, when traced, the span
self times and the Spark work per epoch.  Everything the run writes
stays under ``.perfbench/`` in the checkout.

The process the command starts only supervises: it runs the benchmark
in a child process and, once that has exited, stops and waits for every
process the child left behind (Spark's JVM, its Python worker daemon
and that daemon's forked workers), so nothing outlives the command.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "crawler_pyspider_spark")
WORK = os.path.join(ROOT, ".perfbench")
# set in the child that runs the benchmark; unset, the process supervises
CHILD_ENV = "PERFBENCH_CHILD"
PR_SET_CHILD_SUBREAPER = 36
REAP_GRACE_S = 10.0


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _spark(run_dir: str, cores: int, heap_mb: int, trace: bool):
    from crawler_pyspider_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        # -XX:-UsePerfData: no hsperfdata file in the host's /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    return get_spark(
        app_name="perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf
    )


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child process, then end every process it
    left behind.  As a child subreaper this process inherits the
    child's orphaned descendants, so it can signal and wait for each of
    them however they detached (the Python worker daemon moves to a
    process group of its own)."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        print(f"perfbench: prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}",
              file=sys.stderr)
        return 2
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv],
        env={**os.environ, CHILD_ENV: "1"},
    )

    def forward(signum, _frame):
        child.send_signal(signum)

    for signum in (signal.SIGTERM, signal.SIGINT):
        signal.signal(signum, forward)
    try:
        code = child.wait()
    finally:
        _reap()
    return code


def _children() -> list[int]:
    """Pids whose parent is this process."""
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # ended meanwhile
            continue
        # the command name may hold spaces and parentheses: fields
        # after its closing parenthesis are state, ppid, ...
        if int(stat[stat.rindex(")") + 2:].split()[1]) == me:
            out.append(int(name))
    return out


def _reap() -> None:
    """SIGTERM every remaining child, SIGKILL whatever is still alive
    after ``REAP_GRACE_S``, and wait until no child is left.  Children
    of a killed child are inherited and handled the same way."""
    deadline = time.monotonic() + REAP_GRACE_S
    signalled: set[int] = set()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return
        late = time.monotonic() > deadline
        for pid in _children():
            if late or pid not in signalled:
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                signalled.add(pid)
        time.sleep(0.05)


def main(argv=None) -> int:
    if os.environ.get(CHILD_ENV) != "1":
        return supervise(sys.argv[1:] if argv is None else list(argv))
    args = _args(argv)
    if not os.path.isdir(PACKAGE):
        print(f"perfbench: {PACKAGE} not found; run from a checkout of the "
              "repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import crawl, host, metrics
    from perfbench.trace import Tracer, spark_work

    if args.workload not in crawl.WORLDS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(crawl.WORLDS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir = os.path.join(WORK, run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Python workers import the package from the checkout, whatever
    # their working directory; temp files stay in the run directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")

    cores = host.nproc()
    mem = host.meminfo_mb()
    heap_mb = host.driver_heap_mb(mem["MemAvailable"])
    probe = host.cpu_probe(cores)
    tracer = Tracer(run_id, enabled=bool(args.trace))
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {"nproc": cores, **mem, "driver_heap_mb": heap_mb, "cpu_probe": probe},
    }
    ops = crawl.Ops()
    spark = None
    try:
        t_start = time.monotonic()
        with tracer.span("session.start"):
            spark = _spark(run_dir, cores, heap_mb, bool(args.trace))
        session_s = time.monotonic() - t_start
        tracer.bind(spark.sparkContext)
        detail["spark_conf"] = {
            k: v for k, v in sorted(spark.sparkContext.getConf().getAll())
            if k.startswith(("spark.sql.", "spark.driver.", "spark.master",
                             "spark.executor.", "spark.default."))
        }
        replay_fn = None
        if args.trace:
            from perfbench.replay import replay as replay_fn
        res = crawl.run(
            spark, tracer, ops, args.workload, args.seed, args.seconds, run_dir,
            os.path.join(WORK, "digests.json"), t_start, replay_fn,
        )
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        res["e2e"]["peak_rss_mb"] = host.vm_hwm_mb(jvm_pid)
    except Exception:
        traceback.print_exc()
        if not ops.failed:
            ops.attempted += 1
            ops.failed.append("benchmark")
        print(json.dumps({
            "correct": False, "attempted": ops.attempted,
            "failed": len(ops.failed), "metrics": {},
        }))
        return 1
    finally:
        if spark is not None:
            _stop(spark)

    detail.update({
        "world": res["world"],
        "epoch_walls": res["epoch_walls"],
        "epochs": res["epochs"],
        "failed_ops": ops.failed,
        "ops_failed_ratio": len(ops.failed) / ops.attempted,
        "e2e": res["e2e"],
    })
    if args.trace:
        work = spark_work(
            os.path.join(run_dir, "events"),
            [(s["start"], s["end"]) for s in res["timed_spans"]],
        )
        values = crawl.layer_metrics(res, work)
        values["session.start_s"] = session_s
        declared = metrics.PER_LAYER
        detail.update({
            "replay": res["replay"],
            "spark_work_per_epoch": work,
            "self_time_s": tracer.self_times(),
            "per_layer": values,
        })
        tracer.write(os.path.join(WORK, f"spans-{args.workload}.json"))
        untraced = _load(os.path.join(WORK, f"last-{args.workload}-trace0.json"))
        if untraced:
            detail["trace_overhead"] = {
                "traced_epoch_s_p50": values["trace.epoch_s_p50"],
                "untraced_epoch_s_p50": untraced["e2e"]["epoch_s_p50"],
            }
    else:
        values = res["e2e"]
        declared = metrics.END_TO_END
    missing = sorted(set(declared) - set(values))
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    with open(os.path.join(WORK, f"last-{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not ops.failed,
        "attempted": ops.attempted,
        "failed": len(ops.failed),
        "metrics": {
            k: {"value": values[k], "unit": declared[k][0]} for k in declared
        },
    }))
    return 0


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit: closing the gateway's
    stdin is the JVM's signal to end."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def _load(path: str) -> dict | None:
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
