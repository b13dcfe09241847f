"""End-to-end crawl loop + checkpoint/resume + oracle parity.

Covers: the bench crawl (libs/bench.py:256-265 model), url dedup
(tests/test_fetcher_processor.py:96-105: 5 crawls to 2 distinct urls ->
2 tasks), robots gating, kill/resume identity, and — the headline
north-rule check — crawl ordering + URL-seen membership equality
against the single-threaded python oracle under the same seed list and
politeness budget.
"""

import shutil

import pytest
from pyspark.sql import functions as F

from crawler_pyspider_spark.engine import BENCH_HANDLER, SAMPLE_HANDLER, CrawlEngine
from crawler_pyspider_spark.operators import frontier as FR

from tests.oracle_frontier import OracleEngine


@pytest.fixture
def wh(tmp_path):
    p = str(tmp_path / "wh")
    shutil.rmtree(p, ignore_errors=True)
    return p


def collect_world(small_world):
    """Materialize the tiny world driver-side for the oracle."""
    pages = {
        r.url: bytes(r.html) for r in small_world["pages"].select("url", "html").collect()
    }
    robots = {
        r.host: list(r.disallow_prefixes)
        for r in small_world["robots"].collect()
        if r.disallow_prefixes
    }
    politeness = {
        r.key: (r.rate, r.burst) for r in small_world["politeness"].collect()
    }
    seeds = [(r.url, r.priority) for r in small_world["seeds"].collect()]
    return pages, robots, politeness, seeds


class TestCrawlE2E:
    def test_bench_crawl_progresses_and_dedups(self, spark, small_world, wh):
        eng = CrawlEngine(
            spark,
            small_world["pages"],
            small_world["robots"],
            small_world["politeness"],
            wh,
            handler=BENCH_HANDLER,
            loop_limit=100000,
        )
        eng.seed(small_world["seeds"])
        metrics = eng.run(4)
        # monotone coverage, bounded by world size (dedup works) — the
        # exact view count; metrics["frontier_rows"] is a documented
        # UPPER BOUND on delta-only epochs (base + live delta, no full
        # base scan per commit), so assert on the view and sanity-check
        # the bound brackets it
        n = eng.frontier.count()
        assert n <= 120 + 5
        # epoch 0 compacts, so its metric is the exact post-seed count
        assert n > metrics[0]["frontier_rows"]
        assert metrics[-1]["frontier_rows"] >= n
        # every frontier row is unique by taskid
        assert eng.frontier.select("taskid").distinct().count() == n

    def test_five_crawls_two_distinct_urls(self, spark, small_world, wh):
        """url_deduplicated golden (tests/test_fetcher_processor.py:96-105)."""
        eng = CrawlEngine(
            spark,
            small_world["pages"],
            small_world["robots"],
            small_world["politeness"],
            wh,
        )
        urls = [r.url for r in small_world["pages"].select("url").limit(2).collect()]
        seed_df = spark.createDataFrame(
            [(u,) for u in [urls[0], urls[1], urls[0], urls[1], urls[0]]],
            "url string",
        )
        eng.seed(seed_df)
        m = eng.run_epoch()
        assert m["ingested"] <= 5
        assert eng.frontier.count() == 2

    def test_robots_denied_host_never_succeeds(self, spark, small_world, wh):
        eng = CrawlEngine(
            spark,
            small_world["pages"],
            small_world["robots"],
            small_world["politeness"],
            wh,
            loop_limit=100000,
        )
        eng.seed(small_world["seeds"])
        eng.run(4)
        denied_ok = eng.frontier.filter(
            (F.col("host") == "host4.test") & (F.col("status") == FR.SUCCESS)
        ).count()
        assert denied_ok == 0

    def test_resume_identical_state(self, spark, small_world, wh):
        kw = dict(loop_limit=100000)
        eng = CrawlEngine(
            spark, small_world["pages"], small_world["robots"],
            small_world["politeness"], wh, **kw,
        )
        eng.seed(small_world["seeds"])
        eng.run(2)
        del eng
        resumed = CrawlEngine.resume(
            spark, small_world["pages"], small_world["robots"],
            small_world["politeness"], wh, **kw,
        )
        assert resumed.epoch == 1
        m = resumed.run_epoch()
        assert m["epoch"] == 2

        # compare against an uninterrupted 3-epoch run
        wh2 = wh + "_cont"
        cont = CrawlEngine(
            spark, small_world["pages"], small_world["robots"],
            small_world["politeness"], wh2, **kw,
        )
        cont.seed(small_world["seeds"])
        cont.run(3)
        sig = lambda df: sorted(  # noqa: E731
            (r.taskid, r.status, r.retried, r.exetime)
            for r in df.select("taskid", "status", "retried", "exetime").collect()
        )
        assert sig(resumed.frontier) == sig(cont.frontier)

    def test_sample_handler_emits_results(self, spark, small_world, wh):
        eng = CrawlEngine(
            spark, small_world["pages"], small_world["robots"],
            small_world["politeness"], wh,
            handler=SAMPLE_HANDLER, loop_limit=100000,
        )
        eng.seed(small_world["seeds"], callback="on_start")
        eng.run(3)
        res = eng.results_df()
        assert res is not None and res.count() > 0
        row = res.limit(1).collect()[0]
        assert '"title"' in row.result and row.url in row.result
        # detail_page priority config applied (@config(priority=2))
        pr = eng.frontier.filter(F.col("callback") == "detail_page").select("priority")
        assert {r.priority for r in pr.collect()} == {2}


class TestOracleParity:
    def test_crawl_order_and_seen_set_match_oracle(self, spark, small_world, wh):
        """North-rule check: selected order per epoch + final URL-seen
        membership equal to the reference-semantics oracle under the
        same seeds + politeness budget."""
        from crawler_pyspider_spark.sources import synth

        pol = synth.gen_politeness(spark, 8, rate=2.0, burst=6.0)
        eng = CrawlEngine(
            spark, small_world["pages"], small_world["robots"], pol, wh,
            handler=BENCH_HANDLER, loop_limit=1000,
        )
        eng.seed(small_world["seeds"])

        pages, robots, politeness, seeds = collect_world(small_world)
        politeness = {h: (2.0, 6.0) for h in politeness}
        oracle = OracleEngine(
            pages=pages, robots=robots, politeness=politeness,
            handler=BENCH_HANDLER, loop_limit=1000,
            default_rate=2.0, default_burst=6.0,
        )
        oracle.seed(seeds)

        for epoch in range(5):
            eng.run_epoch()
            oracle.run_epoch()
            # the epoch's selected rows live in whichever table the MoR
            # commit wrote: the full frontier (compaction epochs) or the
            # delta (every touched task — selection always touches)
            man = eng.store.manifest(epoch)
            tbl = "frontier" if "frontier" in man["tables"] else "frontier_delta"
            snap = spark.read.parquet(f"{wh}/{tbl}/epoch={epoch}")
            if tbl == "frontier_delta":
                snap = snap.filter(F.col("_live")).drop("_live")
            sel_engine = [
                r.url
                for r in snap
                .filter(F.col("lastcrawltime") == eng.now(epoch))
                .orderBy(F.desc("priority"), F.asc("seq"))
                .collect()
            ]
            assert sel_engine == oracle.selected_log[epoch], f"epoch {epoch}"

        seen_engine = {r.url for r in eng.frontier.select("url").collect()}
        assert seen_engine == oracle.seen_urls()


def test_fetch_branches_equivalent(spark, small_world, tmp_path, monkeypatch):
    """The fetch join broadcasts batches up to FETCH_BROADCAST_ROWS and
    runs a shuffled hash join above it.  The two branches are PHYSICAL
    plan choices only: the crawl state after 3 epochs must be identical
    row-for-row.  A cutover of 0 forces the shuffle_hash branch on the
    small world."""
    import crawler_pyspider_spark.engine as engine_mod

    sig = lambda eng: sorted(  # noqa: E731
        (r.taskid, r.status, r.retried, r.exetime)
        for r in eng.frontier.select(
            "taskid", "status", "retried", "exetime"
        ).collect()
    )

    def crawl(name):
        eng = CrawlEngine(
            spark, small_world["pages"], small_world["robots"],
            small_world["politeness"], str(tmp_path / f"wh_{name}"),
            loop_limit=100000,
        )
        eng.seed(small_world["seeds"])
        eng.run(3)
        return sig(eng)

    broadcast = crawl("broadcast")
    monkeypatch.setattr(engine_mod, "FETCH_BROADCAST_ROWS", 0)
    shuffle_hash = crawl("shuffle_hash")
    assert broadcast  # the crawl actually progressed
    assert shuffle_hash == broadcast


def test_drained_epoch_folds_nothing(spark, small_world, tmp_path):
    """An epoch that selects nothing must not touch the frontier delta:
    the round-4 engine re-materialized the whole delta to apply an
    empty lease fold, making drained-epoch cost scale with delta size.
    Run to exhaustion, then assert an extra epoch leaves the delta
    OBJECT identical (no fold ran) and state unchanged."""
    eng = CrawlEngine(
        spark, small_world["pages"], small_world["robots"],
        small_world["politeness"], str(tmp_path / "wh"), loop_limit=100000,
        # keep the frontier on the delta path so an accidental fold
        # would be visible (base stays small enough to always-compact
        # under defaults, which would mask the object-identity check)
        frontier_cow_max_rows=0, frontier_compact_ratio=1e9,
    )
    eng.seed(small_world["seeds"])
    ms = eng.run(10)
    drained = [m for m in ms if m["selected"] == 0]
    assert drained, "world did not drain in 10 epochs"
    sig = sorted(
        (r.taskid, r.status, r.retried)
        for r in eng.frontier.select("taskid", "status", "retried").collect()
    )
    m = eng.run_epoch()
    assert m["selected"] == 0
    # no select ⇒ no lease/status fold; the delta row count at commit
    # must not move (an ingest of zero pending rows folds nothing too)
    assert m["delta_rows"] == drained[-1]["delta_rows"]
    sig2 = sorted(
        (r.taskid, r.status, r.retried)
        for r in eng.frontier.select("taskid", "status", "retried").collect()
    )
    assert sig2 == sig


def test_compaction_policy_state_invariant(spark, small_world, tmp_path):
    """Merge-on-read bookkeeping must be invisible to crawl semantics:
    compacting every epoch (ratio=0) and never compacting
    (huge thresholds — every epoch commits only a frontier_delta) must
    leave the identical frontier view."""
    sig = lambda eng: sorted(  # noqa: E731
        (r.taskid, r.status, r.retried, r.exetime)
        for r in eng.frontier.select(
            "taskid", "status", "retried", "exetime"
        ).collect()
    )
    states = {}
    for name, kw in (
        ("always", dict(frontier_cow_max_rows=10**9, frontier_compact_ratio=0.0)),
        # cow_max_rows=0: no base is "small enough to always compact";
        # ratio=1e9: the delta never reaches the threshold — delta-only
        ("never", dict(frontier_cow_max_rows=0, frontier_compact_ratio=1e9)),
    ):
        eng = CrawlEngine(
            spark, small_world["pages"], small_world["robots"],
            small_world["politeness"], str(tmp_path / f"wh_{name}"),
            loop_limit=100000, **kw,
        )
        eng.seed(small_world["seeds"])
        ms = eng.run(4)
        states[name] = sig(eng)
        if name == "always":
            assert all(m["frontier_compacted"] for m in ms)
        else:
            # epoch 0 installs the first base; after that, delta-only
            assert not any(m["frontier_compacted"] for m in ms[1:])
    assert states["always"] == states["never"] and states["always"]


def test_host_bucket_count_is_state_invariant(spark, small_world, tmp_path):
    """n_host_buckets only shapes physical partitioning (repartition
    key for the fetch stage); any value must yield identical crawl
    state."""
    sig = lambda eng: sorted(  # noqa: E731
        (r.taskid, r.status, r.retried)
        for r in eng.frontier.select("taskid", "status", "retried").collect()
    )
    states = {}
    for n in (3, 1024):
        eng = CrawlEngine(
            spark, small_world["pages"], small_world["robots"],
            small_world["politeness"], str(tmp_path / f"wh_{n}"),
            loop_limit=100000, n_host_buckets=n,
        )
        eng.seed(small_world["seeds"])
        eng.run(3)
        states[n] = sig(eng)
    assert states[3] == states[1024] and states[3]


def test_engine_state_has_no_python_rdd(spark, small_world, tmp_path):
    """Python runs only inside the pandas UDFs: the engine's own
    constant frames (empty base, delta, view and token state, the
    INTERNAL_HOST politeness row) are JVM literals, so the optimized
    plans of its state hold no LogicalRDD — a frame made from a Python
    list would scan a Python RDD in every job that reads it.  Checked
    after construction and after each epoch; the default config
    compacts every epoch here, so no checkpointed delta (also a
    LogicalRDD, but a JVM one) is left in the view."""
    eng = CrawlEngine(
        spark, small_world["pages"], small_world["robots"],
        small_world["politeness"], str(tmp_path / "wh"), loop_limit=100000,
    )

    def rdd_scans():
        return {
            name: df._jdf.queryExecution().optimizedPlan().toString().count(
                "LogicalRDD"
            )
            for name in ("frontier", "token_state", "politeness", "pending")
            if (df := getattr(eng, name)) is not None
        }

    counts = rdd_scans()
    assert set(counts.values()) == {0}, counts
    eng.seed(small_world["seeds"])
    for _ in range(3):
        m = eng.run_epoch()
        assert m["frontier_compacted"]
        counts = rdd_scans()
        assert len(counts) == 4 and set(counts.values()) == {0}, counts


def _frontier_sig(eng):
    return sorted(
        (r.taskid, r.status, r.retried, r.exetime)
        for r in eng.frontier.select(
            "taskid", "status", "retried", "exetime"
        ).collect()
    )


def _uninterrupted_sig(spark, small_world, wh, epochs, **kw):
    eng = CrawlEngine(
        spark, small_world["pages"], small_world["robots"],
        small_world["politeness"], wh, **kw,
    )
    eng.seed(small_world["seeds"])
    eng.run(epochs)
    return _frontier_sig(eng)


@pytest.mark.parametrize("fault", ["manifest_publish", "table_write"])
def test_torn_commit_resumes_last_published_epoch(
    spark, small_world, tmp_path, monkeypatch, fault
):
    """A commit that dies after (or while) writing its tables but before
    its manifest is published leaves an epoch that resume ignores: the
    engine restarts from the previous manifest, and the crawl it then
    runs equals an uninterrupted one.  ``manifest_publish`` fails the
    manifest dump after every table of epoch 2 is on disk;
    ``table_write`` fails one table's Spark write job of epoch 2 (its
    target path sits under a regular file) while the others succeed."""
    import json
    import types

    from crawler_pyspider_spark import checkpoint

    kw = dict(loop_limit=100000)
    wh = str(tmp_path / "wh")
    eng = CrawlEngine(
        spark, small_world["pages"], small_world["robots"],
        small_world["politeness"], wh, **kw,
    )
    eng.seed(small_world["seeds"])
    eng.run(2)
    with monkeypatch.context() as mp:
        if fault == "manifest_publish":
            def dump(*a, **k):
                raise OSError("killed before the manifest publish")

            mp.setattr(
                checkpoint, "json", types.SimpleNamespace(dump=dump, load=json.load)
            )
        else:
            blocker = tmp_path / "blocker"
            blocker.write_text("")
            table_path = eng.store.table_path
            mp.setattr(
                eng.store, "table_path",
                lambda name, epoch: (
                    str(blocker / f"epoch={epoch}") if name == "token_state"
                    else table_path(name, epoch)
                ),
            )
        with pytest.raises(Exception):
            eng.run_epoch()
    assert (tmp_path / "wh" / "frontier" / "epoch=2").exists()
    del eng
    resumed = CrawlEngine.resume(
        spark, small_world["pages"], small_world["robots"],
        small_world["politeness"], wh, **kw,
    )
    assert resumed.epoch == 1
    resumed.run(2)
    assert resumed.epoch == 3
    cont = _uninterrupted_sig(spark, small_world, str(tmp_path / "wh_cont"), 4, **kw)
    assert cont and _frontier_sig(resumed) == cont


def test_resume_from_merge_on_read_snapshot(spark, small_world, tmp_path):
    """Resume installs a merge-on-read snapshot (a base from an earlier
    epoch plus the last epoch's delta) exactly as the live engine's
    end-of-epoch reload does, and the crawl continues identically."""
    kw = dict(loop_limit=100000, frontier_cow_max_rows=0, frontier_compact_ratio=1e9)
    wh = str(tmp_path / "wh")
    eng = CrawlEngine(
        spark, small_world["pages"], small_world["robots"],
        small_world["politeness"], wh, **kw,
    )
    eng.seed(small_world["seeds"])
    ms = eng.run(4)
    assert not any(m["frontier_compacted"] for m in ms[1:])
    resumed = CrawlEngine.resume(
        spark, small_world["pages"], small_world["robots"],
        small_world["politeness"], wh, **kw,
    )

    def state(e):
        return (
            e._fr_base_epoch, e._fr_base_rows, e._fr_delta_empty,
            e._frontier_rows, e._pending_rows,
        )

    assert state(resumed) == state(eng)
    assert resumed._fr_base_epoch == 0 and not resumed._fr_delta_empty
    assert _frontier_sig(resumed) == _frontier_sig(eng)
    resumed.run(3)
    cont = _uninterrupted_sig(spark, small_world, str(tmp_path / "wh_cont"), 7, **kw)
    assert cont and _frontier_sig(resumed) == cont


def test_status_fold_materializes_delta_once(spark, small_world, tmp_path, monkeypatch):
    """A selecting epoch of an engine with a projects dim materializes
    the frontier delta twice: once for the ingest fold and once for the
    epoch tail, whose lease stamps, statuses and @not_send_status
    tombstones resolve in one shuffle.  Tombstones must not pay a
    materialization of their own, even when there are none to fold."""
    eng = CrawlEngine(
        spark, small_world["pages"], small_world["robots"],
        small_world["politeness"], str(tmp_path / "wh"), loop_limit=100000,
        projects={"bench": {"status": "RUNNING", "rate": 1000.0, "burst": 10000.0}},
    )
    eng.seed(small_world["seeds"])
    cls = type(eng.frontier)
    calls = []
    checkpoint = cls.localCheckpoint

    def counting(self, *a, **k):
        calls.append(1)
        return checkpoint(self, *a, **k)

    monkeypatch.setattr(cls, "localCheckpoint", counting)
    m = eng.run_epoch()
    assert m["selected"] > 0
    assert len(calls) == 2
