"""The crawl workloads: the world each one describes, the epochs it
times, and the checks on what the engine committed.

Only the world differs between workloads (pages, robots, politeness,
seed URLs, ``loop_limit``); the engine runs with its default
constructor configuration.  The workload seed picks the seed-URL sample
(an md5(seed|id) ordering), the seeds' priorities and the etag salt; the
engine receives only the generated frames.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_pyspider_spark.engine import CrawlEngine
from crawler_pyspider_spark.operators.frontier import SUCCESS
from crawler_pyspider_spark.sources import synth

from perfbench.host import tree_bytes


@dataclass(frozen=True)
class World:
    n_pages: int
    show: int  # out-links per page
    body_kb: int
    seed_pages: int  # pages sampled by the seed
    seed_links: bool  # seed with the sampled pages' raw out-links, duplicates kept
    rate: float | None  # per-host politeness; None = reference default
    loop_limit: int | None  # None = engine default

    @property
    def n_hosts(self) -> int:
        return self.n_pages // 100


# Both workloads time the first epoch of a fresh crawler process: the
# one a restarted or batch-submitted crawl pays, Spark's code generation
# for every plan shape included.  A warm-up epoch before it would double
# the run's cost.
WORLDS = {
    # A crawl started from a link dump: the epoch canonicalizes and
    # dedups 20k raw link rows, fetches and parses nearly the whole
    # 20 KB-page world and writes the frontier.
    "crawl_growth": World(
        n_pages=2_500, show=20, body_kb=20, seed_pages=1_000, seed_links=True,
        rate=1e6, loop_limit=10_000_000,
    ),
    # 10k seeds under the reference politeness: the epoch selects at
    # most the burst (10 tasks) per host, so ingest and parse are small
    # and the per-epoch fixed cost dominates.
    "crawl_polite": World(
        n_pages=20_000, show=4, body_kb=0, seed_pages=10_000, seed_links=False,
        rate=None, loop_limit=None,
    ),
}

# run_epoch() timers summed into engine.<name>; the rest of an epoch's
# wall time is engine.unaccounted_s
EPOCH_TIMERS = [
    "ingest", "select", "fetch_parse", "rank",
    "status_fold", "denied", "commit", "reload",
]


class Ops:
    """Operations attempted and failed.  An epoch, a resume and an
    output check are one operation each; one fails if it raises or its
    check does not hold."""

    def __init__(self):
        self.attempted = 0
        self.failed: list[str] = []

    def check(self, name: str, ok: bool, detail=None) -> bool:
        self.attempted += 1
        if not ok:
            self.failed.append(name)
            print(f"check failed: {name}: {detail}", file=sys.stderr)
        return ok

    def call(self, name: str, fn):
        """Run ``fn``; a raise counts as a failed operation and is
        re-raised, since the crawl cannot go on without its result."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed.append(name)
            traceback.print_exc()
            raise


def build_world(spark: SparkSession, w: World, seed: int) -> dict:
    pages = (
        synth.gen_pages(
            spark, n_pages=w.n_pages, n_hosts=w.n_hosts, show=w.show,
            body_kb=w.body_kb, etag_salt=str(seed),
        )
        .select("url", "html", "etag")
        .cache()
    )
    pages.count()
    sample = (
        spark.range(w.n_pages)
        .orderBy(F.md5(F.concat(F.lit(f"{seed}|"), F.col("id").cast("string"))))
        .limit(w.seed_pages)
    )
    if w.seed_links:
        # the world's link law: child(i, k) = md5int(url(i) || '#' || k) % n_pages
        links = sample.select(
            synth.url_of(F.col("id"), w.n_hosts).alias("parent"),
            F.explode(F.sequence(F.lit(0), F.lit(w.show - 1))).alias("k"),
        )
        child = F.concat(F.col("parent"), F.lit("#"), F.col("k").cast("string"))
        sample = links.select((synth.md5int(child) % F.lit(w.n_pages)).alias("id"))
    seeds = (
        sample.select(synth.url_of(F.col("id"), w.n_hosts).alias("url"))
        .withColumn("project", F.lit("bench"))
        .withColumn(
            "priority",
            (synth.md5int(F.concat(F.lit(f"{seed}|"), F.col("url"))) % 3).cast("int"),
        )
        .withColumn("exetime", F.lit(None).cast("timestamp"))
    )
    if w.rate is None:
        politeness = synth.gen_politeness(spark, w.n_hosts)
    else:
        politeness = synth.gen_politeness(spark, w.n_hosts, rate=w.rate, burst=w.rate * 10)
    return {
        "pages": pages,
        "robots": synth.gen_robots(spark, w.n_hosts),
        "politeness": politeness,
        "seeds": seeds,
    }


def engine_kwargs(w: World) -> dict:
    return {} if w.loop_limit is None else {"loop_limit": w.loop_limit}


def frontier_summary(frontier: DataFrame) -> tuple[int, int, str]:
    """Rows, distinct taskids and an order-free digest of the frontier:
    the sum of a 64-bit hash of every row.  Every column is a function
    of the seed and the epoch number, so the same seed and epoch count
    give the same digest."""
    row = frontier.select(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("taskid").alias("keys"),
        F.sum(F.xxhash64(F.to_json(F.struct(*sorted(frontier.columns))))
              .cast("decimal(38,0)")).alias("h"),
    ).first()
    return row["n"], row["keys"], f"{row['n']}:{row['h']}"


def robots_violations(frontier: DataFrame, robots: DataFrame) -> int:
    """SUCCESS tasks whose path a ``gen_robots`` rule of their host
    disallows."""
    done = frontier.filter(F.col("status") == SUCCESS).select(
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit("/")).alias("path"),
    )
    return (
        done.join(robots.select("host", "disallow_prefixes"), "host")
        .filter(F.exists("disallow_prefixes", lambda p: F.col("path").startswith(p)))
        .count()
    )


def _record_digest(store_path: str, key: str, digest: str) -> tuple[bool, str | None]:
    """Compare ``digest`` with the one an earlier run recorded under
    ``key``, and record it if none did.  Returns (agrees, earlier)."""
    seen = {}
    if os.path.exists(store_path):
        with open(store_path) as f:
            seen = json.load(f)
    earlier = seen.get(key)
    if earlier is None:
        seen[key] = digest
        tmp = store_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(seen, f, indent=1, sort_keys=True)
        os.replace(tmp, store_path)
    return earlier in (None, digest), earlier


def run(spark, tracer, ops: Ops, name: str, seed: int, seconds: float,
        run_dir: str, digest_path: str, t_start: float, replay_fn=None) -> dict:
    """One crawl workload: set-up (world, engine, seed), the timed
    epochs, then the output checks.  Returns the measurements;
    ``t_start`` is when set-up began, before the Spark session started."""
    w = WORLDS[name]
    wh = os.path.join(run_dir, "warehouse")
    kw = engine_kwargs(w)
    with tracer.span("world"):
        world = build_world(spark, w, seed)
    pages, robots, politeness = world["pages"], world["robots"], world["politeness"]
    with tracer.span("engine.construct"):
        eng = CrawlEngine(spark, pages, robots, politeness, wh, **kw)
    with tracer.span("engine.seed"):
        eng.seed(world["seeds"])
    setup_s = time.monotonic() - t_start

    commits: list[tuple[float, int]] = []
    if tracer.enabled:
        _time_commits(eng.store, tracer, commits)
    epochs, walls, timed_spans = [], [], []
    t0 = time.monotonic()
    while True:
        with tracer.span("engine.run_epoch") as sp:
            te = time.monotonic()
            m = ops.call("epoch", eng.run_epoch)
            walls.append(time.monotonic() - te)
        timed_spans.append(sp)
        epochs.append(m)
        if time.monotonic() - t0 >= seconds or m["selected"] == 0:
            break
    timed_s = time.monotonic() - t0
    warehouse_mb = tree_bytes(wh) / 2**20

    for m in epochs:
        ops.check(f"epoch {m['epoch']} fetch_missing == 0", m["fetch_missing"] == 0, m)

    frontier = eng.frontier.cache()
    with tracer.span("check.frontier"):
        n_rows, n_keys, digest = frontier_summary(frontier)
        ops.check("frontier taskids unique", n_rows == n_keys, (n_rows, n_keys))
        bad = robots_violations(frontier, robots)
        ops.check("no robots-disallowed url reaches SUCCESS", bad == 0, bad)
        n_results = eng.results_df().count()
        n_ok = sum(m["fetched_ok"] for m in epochs)
        ops.check("result rows == summed fetched_ok", n_results == n_ok, (n_results, n_ok))
        agrees, earlier = _record_digest(
            digest_path, f"{name}:{w}:seed={seed}:epochs={len(epochs)}", digest
        )
        ops.check("frontier digest repeats across runs", agrees, (digest, earlier))

    with tracer.span("checkpoint.resume"):
        tr = time.monotonic()
        resumed = ops.call(
            "resume",
            lambda: CrawlEngine.resume(spark, pages, robots, politeness, wh, **kw),
        )
        resumed_frontier = resumed.frontier.cache()
        if tracer.enabled:  # untraced, the check below fills the cache
            resumed_frontier.count()
        resume_s = time.monotonic() - tr
    with tracer.span("check.resume"):
        differ = (
            resumed_frontier.exceptAll(frontier)
            .unionByName(frontier.exceptAll(resumed_frontier))
            .count()
        )
        ops.check("resumed frontier == live frontier", differ == 0, differ)

    replay = replay_fn(spark, tracer, resumed, pages) if replay_fn else None
    frontier.unpersist()
    resumed_frontier.unpersist()

    fetched_ok = sum(m["fetched_ok"] for m in epochs)
    return {
        "world": {**w.__dict__, "n_hosts": w.n_hosts},
        "setup_s": setup_s,
        "timed_s": timed_s,
        "epoch_walls": walls,
        "epochs": epochs,
        "timed_spans": timed_spans,
        "commits": commits,
        "resume_s": resume_s,
        "replay": replay,
        "e2e": {
            "setup_s": setup_s,
            "pages_per_s": fetched_ok / timed_s,
            "epoch_s_p50": statistics.median(walls),
            "warehouse_mb": warehouse_mb,
        },
    }


def _time_commits(store, tracer, sink: list) -> None:
    """Time every ``SnapshotStore.write_epoch`` call the engine makes,
    from outside: the store's bound method is wrapped on this instance
    only, and the bytes each commit wrote are summed from its manifest."""
    inner = store.write_epoch

    def write_epoch(epoch, tables, **kwargs):
        with tracer.span("checkpoint.write_epoch"):
            t = time.monotonic()
            manifest = inner(epoch, tables, **kwargs)
            dt = time.monotonic() - t
        written = sum(tree_bytes(e["path"]) for e in manifest["tables"].values())
        sink.append((dt, written))
        return manifest

    store.write_epoch = write_epoch


def layer_metrics(res: dict, work: list[dict]) -> dict:
    """Per-layer metrics of one traced crawl: the engine's own epoch
    counters, the Spark work of each timed run_epoch call, the
    checkpoint calls and the layer replay."""
    epochs = res["epochs"]
    n = len(epochs)
    out = {}
    for t in EPOCH_TIMERS:
        out[f"engine.{t}_s"] = sum(m.get(f"t_{t}", 0.0) for m in epochs)
    out["engine.unaccounted_s"] = sum(res["epoch_walls"]) - sum(
        out[f"engine.{t}_s"] for t in EPOCH_TIMERS
    )
    for metric, key in [
        ("ingested_rows", "ingested"), ("selected_rows", "selected"),
        ("fetched_ok_rows", "fetched_ok"), ("robots_denied_rows", "robots_denied"),
        ("delta_rows", "delta_rows"),
    ]:
        out[f"engine.{metric}"] = sum(m[key] for m in epochs)
    out["engine.frontier_rows"] = epochs[-1]["frontier_rows"]
    out["engine.compactions"] = sum(bool(m["frontier_compacted"]) for m in epochs)
    out["engine.novel_ratio"] = epochs[-1]["frontier_rows"] / max(
        out["engine.ingested_rows"], 1
    )
    out["engine.fetch_ok_ratio"] = out["engine.fetched_ok_rows"] / max(
        out["engine.selected_rows"], 1
    )
    for key in ["jobs", "stages", "tasks"]:
        out[f"engine.{key}_per_epoch"] = sum(w[key] for w in work) / n
    for key in ["task_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"]:
        out[f"engine.{key}"] = sum(w[key] for w in work)
    out["checkpoint.write_epoch_s"] = sum(dt for dt, _ in res["commits"])
    out["checkpoint.write_mb"] = sum(b for _, b in res["commits"]) / 2**20
    out["checkpoint.resume_s"] = res["resume_s"]
    for layer, r in res["replay"].items():
        out[f"{layer}_s"] = r["s"]
    rp = res["replay"]
    out["urls.with_url_identity_rows_in"] = rp["urls.with_url_identity"]["rows_in"]
    out["frontier.merge_changes_rows_out"] = rp["frontier.merge_changes"]["rows_out"]
    out["frontier.select_batch_rows_out"] = rp["frontier.select_batch"]["rows_out"]
    out["extract.parse_page_meta_rows_in"] = rp["extract.parse_page_meta"]["rows_in"]
    out["trace.epoch_s_p50"] = statistics.median(res["epoch_walls"])
    return out
