"""Partitioned cuckoo-filter seen set (operators/cuckoo.py) — the
engine's approximate membership tier: replaces the reference's taskdb
point lookups (database/sqlite/taskdb.py:72-85) + queue-membership dict
(task_queue.py:281-286), plus key deletion."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawler_pyspider_spark.operators import cuckoo

N_SHARDS, BUCKETS = 8, 1 << 10


def urls_df(spark, ids):
    return spark.createDataFrame(
        [(f"http://h{i % 5}.test/p/{i}",) for i in ids], "taskid string"
    )


def probe(spark, urls, shards):
    combined = cuckoo.probe_combined(
        urls, shards, n_shards=N_SHARDS, buckets=BUCKETS
    ).cache()
    flagged, new_shards = cuckoo.split(combined)
    f = {r["taskid"]: r["seen"] for r in flagged.collect()}
    s = new_shards.cache()
    s.count()
    combined.unpersist()
    return f, s


# ---------------------------------------------------------------- numpy core


def test_place_free_ranked_slots():
    table = np.zeros((4, cuckoo.SLOTS), dtype=np.uint16)
    fps = np.array([10, 11, 12, 13, 14], dtype=np.uint16)
    bkts = np.array([1, 1, 1, 1, 1], dtype=np.int64)
    placed = cuckoo._place_free(table, fps, bkts)
    # 4 slots in the bucket: first 4 placed, 5th not
    assert placed.tolist() == [True, True, True, True, False]
    assert sorted(table[1].tolist()) == [10, 11, 12, 13]


def test_alt_bucket_involution():
    rng = np.random.RandomState(7)
    fp = rng.randint(1, 65536, 1000).astype(np.uint16)
    b = rng.randint(0, BUCKETS, 1000).astype(np.int64)
    b2 = cuckoo._alt_bucket(fp, b, BUCKETS)
    assert (cuckoo._alt_bucket(fp, b2, BUCKETS) == b).all()


def test_stash_roundtrip():
    b = np.array([3, 1 << 20, 0], dtype=np.int64)
    fp = np.array([1, 65535, 42], dtype=np.uint16)
    rb, rfp = cuckoo._decode_stash(cuckoo._encode_stash(b, fp))
    assert rb.tolist() == b.tolist() and rfp.tolist() == fp.tolist()
    rb, rfp = cuckoo._decode_stash(b"")
    assert len(rb) == 0 and len(rfp) == 0


# ---------------------------------------------------------------- spark tier


def test_first_batch_unseen_then_all_seen(spark):
    shards = cuckoo.empty_shards(spark, N_SHARDS, BUCKETS)
    f1, shards = probe(spark, urls_df(spark, range(100)), shards)
    assert all(v is False for v in f1.values()) and len(f1) == 100
    f2, shards = probe(spark, urls_df(spark, range(100)), shards)
    assert all(v is True for v in f2.values())
    # disjoint batch: FP ~0.012% — expect zero at this size
    f3, _ = probe(spark, urls_df(spark, range(1000, 1100)), shards)
    assert sum(v for v in f3.values()) == 0


def test_intra_batch_duplicates_seen_after_first(spark):
    shards = cuckoo.empty_shards(spark, N_SHARDS, BUCKETS)
    dup = urls_df(spark, [1, 2, 1, 2, 3])
    combined = cuckoo.probe_combined(dup, shards, n_shards=N_SHARDS, buckets=BUCKETS)
    flagged, _ = cuckoo.split(combined)
    rows = flagged.groupBy("taskid").agg(
        F.count("*").alias("n"), F.sum(F.col("seen").cast("int")).alias("n_seen")
    ).collect()
    for r in rows:
        assert r["n_seen"] == r["n"] - 1


def test_shard_rows_complete_and_counters(spark):
    shards = cuckoo.empty_shards(spark, N_SHARDS, BUCKETS)
    _, new_shards = probe(spark, urls_df(spark, range(50)), shards)
    rows = new_shards.collect()
    assert sorted(r["shard"] for r in rows) == list(range(N_SHARDS))
    assert sum(r["n_items"] for r in rows) == 50
    assert all(len(r["table"]) == BUCKETS * cuckoo.SLOTS * 2 for r in rows)


def test_partition_invariance(spark):
    shards = cuckoo.empty_shards(spark, N_SHARDS, BUCKETS)
    base = urls_df(spark, range(200))
    f1, _ = probe(spark, base.coalesce(1), shards)
    f2, _ = probe(spark, base.repartition(16), shards)
    assert f1 == f2


def test_high_load_no_false_negatives(spark):
    """Fill to ~85% load (forces eviction chains and possibly stash):
    every inserted key must still report seen — the no-FN guarantee the
    join-free append depends on."""
    n = int(N_SHARDS * BUCKETS * cuckoo.SLOTS * 0.85)
    shards = cuckoo.empty_shards(spark, N_SHARDS, BUCKETS)
    ids = range(n)
    _, shards = probe(spark, urls_df(spark, ids), shards)
    f2, shards = probe(spark, urls_df(spark, ids), shards)
    assert all(f2.values())
    rows = shards.collect()
    assert sum(r["n_items"] for r in rows) == n


def test_delete_reopens_keys(spark):
    """delete_keys removes membership: deleted keys probe unseen again,
    surviving keys stay seen."""
    shards = cuckoo.empty_shards(spark, N_SHARDS, BUCKETS)
    _, shards = probe(spark, urls_df(spark, range(100)), shards)
    dels = urls_df(spark, range(40))
    shards = cuckoo.delete_keys(
        dels, shards, n_shards=N_SHARDS, buckets=BUCKETS
    ).cache()
    shards.count()
    f, new_shards = probe(spark, urls_df(spark, range(100)), shards)
    deleted = {f"http://h{i % 5}.test/p/{i}" for i in range(40)}
    for k, seen in f.items():
        assert seen is (k not in deleted)
    assert sum(r["n_items"] for r in new_shards.collect()) == 100  # 60 + 40 re-inserted


def test_engine_cuckoo_matches_exact(spark, small_world, tmp_path):
    """A cuckoo-filtered crawl reaches the same frontier as the exact
    engine (FPs only re-route rows through the exact join)."""
    from crawler_pyspider_spark.engine import CrawlEngine

    states = {}
    for mode in ("exact", "cuckoo"):
        eng = CrawlEngine(
            spark,
            small_world["pages"],
            small_world["robots"],
            small_world["politeness"],
            str(tmp_path / f"wh_{mode}"),
            loop_limit=100000,
            seen_filter=mode,
        )
        eng.seed(small_world["seeds"])
        eng.run(3)
        states[mode] = sorted(
            (r["taskid"], r["status"], r["retried"], r["url"])
            for r in eng.frontier.collect()
        )
    assert states["exact"] == states["cuckoo"]
    assert len(states["exact"]) > 0


def test_engine_cuckoo_resume(spark, small_world, tmp_path):
    """Kill/resume with the cuckoo tier: shards restore from the
    snapshot and the resumed run equals the uninterrupted one."""
    from crawler_pyspider_spark.engine import CrawlEngine

    wh_a, wh_b = str(tmp_path / "a"), str(tmp_path / "b")
    kw = dict(loop_limit=100000, seen_filter="cuckoo")
    full = CrawlEngine(
        spark, small_world["pages"], small_world["robots"],
        small_world["politeness"], wh_a, **kw,
    )
    full.seed(small_world["seeds"])
    full.run(3)

    part = CrawlEngine(
        spark, small_world["pages"], small_world["robots"],
        small_world["politeness"], wh_b, **kw,
    )
    part.seed(small_world["seeds"])
    part.run(2)
    resumed = CrawlEngine.resume(
        spark, small_world["pages"], small_world["robots"],
        small_world["politeness"], wh_b, **kw,
    )
    assert resumed.seen_shards is not None
    resumed.run(1)

    key = lambda eng: sorted(  # noqa: E731
        (r["taskid"], r["status"], r["retried"], r["exetime"])
        for r in eng.frontier.collect()
    )
    assert key(full) == key(resumed)


def test_engine_delete_project_forgets_cuckoo_keys(spark, small_world, tmp_path):
    """Project delete (reference tests/test_scheduler.py:716-724): the
    frontier loses the project's rows AND the cuckoo tier forgets its
    keys, so re-seeding the same urls re-admits them via the
    filter-negative (join-free) path instead of the exact decision join."""
    from crawler_pyspider_spark.engine import CrawlEngine

    eng = CrawlEngine(
        spark, small_world["pages"], small_world["robots"],
        small_world["politeness"], str(tmp_path / "wh"),
        loop_limit=100000, seen_filter="cuckoo",
        seen_shards_n=N_SHARDS, seen_buckets=BUCKETS,
    )
    eng.seed(small_world["seeds"])
    eng.run(2)
    tids = [r["taskid"] for r in eng.frontier.select("taskid").limit(5).collect()]
    assert tids and eng.frontier.count() > 0

    eng.delete_project("bench")
    assert eng.frontier.filter(F.col("project") == "bench").count() == 0

    # the filter no longer claims the deleted keys
    probe_df = spark.createDataFrame([(t,) for t in tids], "taskid string")
    flagged, _ = cuckoo.probe_and_insert(
        probe_df, eng.seen_shards, n_shards=N_SHARDS, buckets=BUCKETS
    )
    assert all(not r["seen"] for r in flagged.collect())

    # re-seeding re-admits: the urls crawl again, and the forced
    # compaction folded the tombstones out of the committed snapshot
    eng.seed(small_world["seeds"])
    m = eng.run_epoch()
    assert m["selected"] > 0
    assert m["frontier_compacted"]
    assert eng.frontier.filter(F.col("project") == "bench").count() > 0
