"""Scheduler-semantics decision table, ported from the reference tests:

- ordering invariants           tests/test_task_queue.py:18-117
- token bucket refill           tests/test_scheduler.py:80-92
- age / itag / force_update /
  cancel / retry / recrawl      tests/test_scheduler.py:379-689
- INQUEUE_LIMIT                 tests/test_scheduler.py:691-714
"""

import pytest
from pyspark.sql import functions as F

from crawler_pyspider_spark.operators import frontier as FR

NOW = 1_704_067_200.0


def mk_frontier(spark, rows):
    """rows: list of dicts with partial frontier fields."""
    defaults = dict(
        taskid=None, project="p", url=None, host="h.test", host_bucket=0,
        status=FR.ACTIVE, priority=0, retries=3, retried=0, exetime=0.0,
        age=-1, itag=None, force_update=False, auto_recrawl=False,
        cancel=False, callback="index_page", lastcrawltime=None,
        updatetime=NOW, seq=0, lease_expires=None, save=None, fetch=None,
        last_etag=None, last_cookies=None,
    )
    full = []
    for i, r in enumerate(rows):
        d = dict(defaults)
        d.update(r)
        if d["taskid"] is None:
            d["taskid"] = f"t{i:04d}"
        if d["url"] is None:
            d["url"] = f"http://h.test/p/{i}"
        d["seq"] = d.get("seq") or i
        full.append(d)
    return spark.createDataFrame(
        [tuple(d[c] for c in FR.FRONTIER_COLS) for d in full],
        schema=FR.FRONTIER_SCHEMA,
    )


def unlimited_politeness(spark):
    return spark.createDataFrame(
        [("h.test", 1e9, 1e9)], "key string, rate double, burst double"
    )


def select(spark, frontier, now=NOW, **kw):
    pol = kw.pop("politeness", unlimited_politeness(spark))
    tok = kw.pop("token_state", FR.empty_token_state(spark))
    sel, used = FR.select_batch(frontier, tok, pol, now, **kw)
    return sel


# --------------------------------------------------------------------------
# ordering invariants (tests/test_task_queue.py:18-52)
# --------------------------------------------------------------------------


class TestOrdering:
    def test_priority_classes_drain_high_to_low_fifo_within(self, spark):
        rows = [
            {"taskid": f"t{i}", "priority": i % 5, "seq": i} for i in range(100)
        ]
        f = mk_frontier(spark, rows)
        sel = select(spark, f, loop_limit=100000).orderBy(
            F.desc("priority"), F.asc("seq")
        )
        got = [(r.priority, r.seq) for r in sel.collect()]
        assert len(got) == 100
        # verify the rank order the engine assigns equals (prio desc, seq asc)
        expected = sorted(got, key=lambda x: (-x[0], x[1]))
        assert got == expected

    def test_budget_takes_top_priority_first(self, spark):
        rows = [{"taskid": f"t{i}", "priority": i % 5, "seq": i} for i in range(50)]
        f = mk_frontier(spark, rows)
        pol = spark.createDataFrame(
            [("h.test", 10.0, 10.0)], "key string, rate double, burst double"
        )
        sel = select(spark, f, politeness=pol)
        got = sorted((r.priority, r.seq) for r in sel.collect())
        all_rows = sorted(((i % 5), i) for i in range(50))
        expected = sorted(
            sorted(all_rows, key=lambda x: (-x[0], x[1]))[:10]
        )
        assert got == expected

    def test_exetime_release(self, spark):
        """Delayed tasks appear only after exetime (test_task_queue.py:54-117)."""
        rows = [
            {"taskid": "ready", "exetime": 0.0},
            {"taskid": "later", "exetime": NOW + 100},
        ]
        f = mk_frontier(spark, rows)
        assert [r.taskid for r in select(spark, f, now=NOW).collect()] == ["ready"]
        got = {r.taskid for r in select(spark, f, now=NOW + 101).collect()}
        assert got == {"ready", "later"}

    def test_lease_blocks_then_expires(self, spark):
        """Processing lease blocks re-select until timeout
        (task_queue.py:135,178-188)."""
        rows = [{"taskid": "x", "lease_expires": NOW + FR.LEASE_SECONDS}]
        f = mk_frontier(spark, rows)
        assert select(spark, f, now=NOW).count() == 0
        assert select(spark, f, now=NOW + FR.LEASE_SECONDS + 1).count() == 1


# --------------------------------------------------------------------------
# token bucket (tests/test_scheduler.py:80-92, token_bucket.py:15-55)
# --------------------------------------------------------------------------


class TestTokenBucket:
    def test_refill_math(self, spark):
        """rate=100/s, bucket at 900 of burst 1000 -> ~910 after 0.1 s."""
        counts = spark.createDataFrame([("h.test", 5000)], "host string, ready_cnt long")
        tok = spark.createDataFrame(
            [("h.test", 900.0, NOW)], "host string, tokens double, last_update double"
        )
        pol = spark.createDataFrame(
            [("h.test", 100.0, 1000.0)], "key string, rate double, burst double"
        )
        b = FR.host_budgets(counts, tok, pol, NOW + 0.1).collect()[0]
        assert b["tokens_avail"] == pytest.approx(910.0)
        # floor of a float a hair under 910 may be 909 — reference test
        # asserts to 0 decimal places too (tests/test_scheduler.py:80-92)
        assert b["budget"] in (909, 910)

    def test_burst_cap(self, spark):
        counts = spark.createDataFrame([("h.test", 5)], "host string, ready_cnt long")
        tok = spark.createDataFrame(
            [("h.test", 900.0, NOW)], "host string, tokens double, last_update double"
        )
        pol = spark.createDataFrame(
            [("h.test", 100.0, 1000.0)], "key string, rate double, burst double"
        )
        b = FR.host_budgets(counts, tok, pol, NOW + 3600).collect()[0]
        assert b["tokens_avail"] == 1000.0

    def test_new_host_starts_full(self, spark):
        counts = spark.createDataFrame([("new.test", 5)], "host string, ready_cnt long")
        b = FR.host_budgets(
            counts, FR.empty_token_state(spark), unlimited_politeness(spark), NOW,
            default_rate=1.0, default_burst=10.0,
        ).collect()[0]
        assert b["budget"] == 10

    def test_tokens_consumed_across_epochs(self, spark):
        """Selecting n tasks debits n tokens (Bucket.desc)."""
        rows = [{"taskid": f"t{i}", "seq": i} for i in range(30)]
        f = mk_frontier(spark, rows)
        pol = spark.createDataFrame(
            [("h.test", 1.0, 10.0)], "key string, rate double, burst double"
        )
        tok = FR.empty_token_state(spark)
        sel1, used1 = FR.select_batch(f, tok, pol, NOW)
        assert sel1.count() == 10  # full bucket
        tok = FR.update_token_state(tok, used1, NOW)
        # 1 second later: 0 tokens + 1*1s = 1 token
        sel2, used2 = FR.select_batch(f, tok, pol, NOW + 1.0)
        assert sel2.count() == 1


# --------------------------------------------------------------------------
# decision table (scheduler.py:822-897)
# --------------------------------------------------------------------------


def mk_incoming(spark, rows, now=NOW):
    inc_rows = []
    for i, r in enumerate(rows):
        d = dict(
            taskid=r.get("taskid", f"t{i:04d}"),
            project=r.get("project", "p"),
            url=r.get("url", f"http://h.test/p/{i}"),
            host=r.get("host", "h.test"),
            host_bucket=0,
            seq=r.get("seq", 1000 + i),
        )
        for k in ("priority", "exetime", "age", "itag", "force_update",
                  "cancel", "auto_recrawl", "retries", "callback"):
            if k in r:
                d[k] = r[k]
        inc_rows.append(d)
    cols = set()
    for d in inc_rows:
        cols.update(d)
    types = dict(
        taskid="string", project="string", url="string", host="string",
        host_bucket="int", seq="long", priority="int", exetime="double",
        age="long", itag="string", force_update="boolean", cancel="boolean",
        auto_recrawl="boolean", retries="int", callback="string",
    )
    order = [c for c in types if c in cols]
    df = spark.createDataFrame(
        [tuple(d.get(c) for c in order) for d in inc_rows],
        schema=", ".join(f"{c} {types[c]}" for c in order),
    )
    return FR.normalize_incoming(df, now)


class TestDecisionTable:
    def test_new_task_inserted_active(self, spark):
        f = FR.empty_frontier(spark)
        inc = mk_incoming(spark, [{"taskid": "a"}])
        merged, deferred = FR.merge_incoming(f, inc, NOW)
        rows = merged.collect()
        assert len(rows) == 1 and rows[0].status == FR.ACTIVE
        assert deferred.count() == 0

    def test_resubmit_before_age_ignored(self, spark):
        """age=30, lastcrawltime=now-10 -> resubmit ignored
        (test_scheduler.py:379-398)."""
        f = mk_frontier(
            spark, [{"taskid": "a", "status": FR.SUCCESS, "lastcrawltime": NOW - 10}]
        )
        inc = mk_incoming(spark, [{"taskid": "a", "age": 30}])
        merged, _ = FR.merge_incoming(f, inc, NOW)
        row = merged.collect()[0]
        assert row.status == FR.SUCCESS  # unchanged — arrival dropped

    def test_resubmit_after_age_restarts(self, spark):
        f = mk_frontier(
            spark, [{"taskid": "a", "status": FR.SUCCESS, "lastcrawltime": NOW - 100}]
        )
        inc = mk_incoming(spark, [{"taskid": "a", "age": 30}])
        merged, _ = FR.merge_incoming(f, inc, NOW)
        assert merged.collect()[0].status == FR.ACTIVE

    def test_itag_change_restarts(self, spark):
        """(test_scheduler.py:421-448)"""
        f = mk_frontier(
            spark,
            [{"taskid": "a", "status": FR.SUCCESS, "itag": "v1",
              "lastcrawltime": NOW - 1}],
        )
        inc = mk_incoming(spark, [{"taskid": "a", "itag": "v2"}])
        merged, _ = FR.merge_incoming(f, inc, NOW)
        row = merged.collect()[0]
        assert row.status == FR.ACTIVE and row.itag == "v2"

    def test_same_itag_no_restart(self, spark):
        f = mk_frontier(
            spark,
            [{"taskid": "a", "status": FR.SUCCESS, "itag": "v1",
              "lastcrawltime": NOW - 1}],
        )
        inc = mk_incoming(spark, [{"taskid": "a", "itag": "v1"}])
        merged, _ = FR.merge_incoming(f, inc, NOW)
        assert merged.collect()[0].status == FR.SUCCESS

    def test_force_update_restarts(self, spark):
        f = mk_frontier(
            spark, [{"taskid": "a", "status": FR.SUCCESS, "lastcrawltime": NOW - 1}]
        )
        inc = mk_incoming(spark, [{"taskid": "a", "force_update": True}])
        merged, _ = FR.merge_incoming(f, inc, NOW)
        assert merged.collect()[0].status == FR.ACTIVE

    def test_cancel_marks_bad(self, spark):
        """cancel + force_update kills a queued task
        (test_scheduler.py:648-689, scheduler.py:877-881)."""
        f = mk_frontier(spark, [{"taskid": "a", "status": FR.ACTIVE}])
        inc = mk_incoming(
            spark, [{"taskid": "a", "force_update": True, "cancel": True}]
        )
        merged, _ = FR.merge_incoming(f, inc, NOW)
        row = merged.collect()[0]
        assert row.status == FR.BAD
        assert FR.select_batch(
            merged, FR.empty_token_state(spark), unlimited_politeness(spark), NOW
        )[0].count() == 0

    def test_force_update_inflight_postponed(self, spark):
        """postpone modify while processing (scheduler.py:855-861)."""
        f = mk_frontier(
            spark, [{"taskid": "a", "status": FR.ACTIVE, "lease_expires": NOW + 600}]
        )
        inc = mk_incoming(spark, [{"taskid": "a", "force_update": True}])
        merged, deferred = FR.merge_incoming(f, inc, NOW)
        assert deferred.count() == 1
        assert merged.collect()[0].lease_expires == NOW + 600

    def test_restart_preserves_live_lease(self, spark):
        f = mk_frontier(
            spark,
            [{"taskid": "a", "status": FR.SUCCESS, "lease_expires": NOW + 600,
              "lastcrawltime": NOW - 100}],
        )
        inc = mk_incoming(spark, [{"taskid": "a", "age": 30}])
        merged, _ = FR.merge_incoming(f, inc, NOW)
        row = merged.collect()[0]
        assert row.status == FR.ACTIVE and row.lease_expires == NOW + 600

    def test_batch_dedup_first_wins(self, spark):
        """(scheduler.py:388-418 — A2)"""
        inc = mk_incoming(
            spark,
            [
                {"taskid": "a", "priority": 1, "seq": 1},
                {"taskid": "a", "priority": 9, "seq": 2},
            ],
        )
        merged, _ = FR.merge_incoming(FR.empty_frontier(spark), inc, NOW)
        rows = merged.collect()
        assert len(rows) == 1 and rows[0].priority == 1

    def test_batch_dedup_force_update_wins(self, spark):
        inc = mk_incoming(
            spark,
            [
                {"taskid": "a", "priority": 1, "seq": 1},
                {"taskid": "a", "priority": 9, "seq": 2, "force_update": True},
            ],
        )
        merged, _ = FR.merge_incoming(FR.empty_frontier(spark), inc, NOW)
        rows = merged.collect()
        assert len(rows) == 1 and rows[0].priority == 9

    def test_inqueue_limit_admits_exactly(self, spark):
        """INQUEUE_LIMIT=10 admits 10 of 20 (test_scheduler.py:691-714)."""
        inc = mk_incoming(spark, [{"taskid": f"t{i}", "seq": i} for i in range(20)])
        merged, _ = FR.merge_incoming(
            FR.empty_frontier(spark), inc, NOW, inqueue_limit=10
        )
        assert merged.count() == 10
        # and the admitted ten are the first ten by seq
        assert {r.taskid for r in merged.collect()} == {f"t{i}" for i in range(10)}


# --------------------------------------------------------------------------
# retry ladder + auto_recrawl (scheduler.py:924-1001)
# --------------------------------------------------------------------------


def fail(spark, frontier, taskid="a", now=NOW):
    st = spark.createDataFrame([("p", taskid, False)], "project string, taskid string, ok boolean")
    return FR.apply_status(frontier, st, now)


def succeed(spark, frontier, taskid="a", now=NOW):
    st = spark.createDataFrame([("p", taskid, True)], "project string, taskid string, ok boolean")
    return FR.apply_status(frontier, st, now)


class TestRetryLadder:
    def test_first_failure_retries_after_30s(self, spark):
        f = mk_frontier(spark, [{"taskid": "a"}])
        f2 = fail(spark, f)
        row = f2.collect()[0]
        assert row.status == FR.ACTIVE
        assert row.retried == 1
        assert row.exetime == NOW + 30

    def test_retry_to_terminal_failed(self, spark):
        """retries=1: fail, retry once, fail -> FAILED
        (test_scheduler.py:470-509)."""
        f = mk_frontier(spark, [{"taskid": "a", "retries": 1}])
        f = fail(spark, f, now=NOW)
        assert f.collect()[0].status == FR.ACTIVE
        f = fail(spark, f, now=NOW + 31)
        row = f.collect()[0]
        assert row.status == FR.FAILED and row.retried == 1

    def test_retry_delay_ladder(self, spark):
        f = mk_frontier(spark, [{"taskid": "a", "retries": 10, "retried": 2}])
        row = fail(spark, f).collect()[0]
        assert row.exetime == NOW + 6 * 3600  # RETRY_DELAYS[2]

    def test_retry_delay_beyond_ladder_is_24h(self, spark):
        f = mk_frontier(spark, [{"taskid": "a", "retries": 10, "retried": 7}])
        row = fail(spark, f).collect()[0]
        assert row.exetime == NOW + 24 * 3600

    def test_age_caps_retry_delay(self, spark):
        f = mk_frontier(spark, [{"taskid": "a", "retries": 10, "retried": 2, "age": 60}])
        row = fail(spark, f).collect()[0]
        assert row.exetime == NOW + 60

    def test_success_sets_lastcrawltime(self, spark):
        f = mk_frontier(spark, [{"taskid": "a"}])
        row = succeed(spark, f).collect()[0]
        assert row.status == FR.SUCCESS
        assert row.lastcrawltime == NOW
        assert row.lease_expires is None

    def test_auto_recrawl_rearms(self, spark):
        """auto_recrawl + age -> stays ACTIVE, exetime = now + age
        (test_scheduler.py:538-618, scheduler.py:929-936)."""
        f = mk_frontier(spark, [{"taskid": "a", "auto_recrawl": True, "age": 300}])
        row = succeed(spark, f).collect()[0]
        assert row.status == FR.ACTIVE
        assert row.exetime == NOW + 300

    def test_auto_recrawl_failure_capped_by_age(self, spark):
        f = mk_frontier(
            spark,
            [{"taskid": "a", "auto_recrawl": True, "age": 10, "retries": 0}],
        )
        row = fail(spark, f).collect()[0]
        # auto_recrawl: never terminal, next_exetime = min(delay, age)
        assert row.status == FR.ACTIVE
        assert row.exetime == NOW + 10


class TestStatusCount:
    def test_counts(self, spark):
        f = mk_frontier(
            spark,
            [
                {"taskid": "a", "status": FR.ACTIVE},
                {"taskid": "b", "status": FR.SUCCESS},
                {"taskid": "c", "status": FR.SUCCESS},
                {"taskid": "d", "status": FR.FAILED},
            ],
        )
        got = {(r.project, r.status): r.cnt for r in FR.status_count(f).collect()}
        assert got == {("p", 1): 1, ("p", 2): 2, ("p", 3): 1}


def test_salted_rank_matches_unsalted(spark):
    """Skew handling (SURVEY.md §4): the two-phase salted pre-rank for
    heavy hosts must select exactly the rows the plain per-host window
    selects — the global top-budget set per host is contained in the
    union of per-salt top-budget sets.  Heavy host (600 ready rows,
    budget 25) + light host (5 rows) so both the salted and the
    pass-through branches are exercised in one call."""
    rows = [
        {"taskid": f"h{i:04d}", "priority": i % 7, "seq": i, "host": "heavy.test",
         "url": f"http://heavy.test/p/{i}"}
        for i in range(600)
    ] + [
        {"taskid": f"l{i:04d}", "priority": 0, "seq": 1000 + i, "host": "light.test",
         "url": f"http://light.test/p/{i}"}
        for i in range(5)
    ]
    f = mk_frontier(spark, rows).cache()
    pol = spark.createDataFrame(
        [("heavy.test", 1e9, 25.0), ("light.test", 1e9, 100.0)],
        "key string, rate double, burst double",
    )
    kw = dict(politeness=pol, loop_limit=100000)
    unsalted = select(spark, f, salt_threshold=10**9, **kw)
    salted = select(spark, f, salt_threshold=50, n_salts=4, **kw)
    a = sorted(r["taskid"] for r in unsalted.collect())
    b = sorted(r["taskid"] for r in salted.collect())
    assert a == b
    # budget binds on the heavy host only: 25 + 5 rows
    assert len(a) == 30
    heavy = [t for t in a if t.startswith("h")]
    # unique (priority, seq) ordering makes the top-25 deterministic
    expect = sorted(
        (f"h{i:04d}" for i in range(600)),
        key=lambda t: (-(int(t[1:]) % 7), int(t[1:])),
    )[:25]
    assert sorted(expect) == heavy


def test_with_global_rank_scalable_path_matches_window(spark):
    """The range-partition + offset rank (large-input path) must produce
    exactly the same rank values as the single-partition window."""
    df = spark.range(500).select(
        (F.col("id") * 37 % 501).alias("seq"), (F.col("id") % 7).alias("x")
    )
    small = FR.with_global_rank(df, "rk", [F.asc("seq")], approx_rows=10)
    large = FR.with_global_rank(df, "rk", [F.asc("seq")], approx_rows=10**9)
    a = sorted((r["seq"], r["rk"]) for r in small.collect())
    b = sorted((r["seq"], r["rk"]) for r in large.collect())
    assert a == b
    ranks = [rk for _, rk in sorted(a)]
    assert ranks == sorted(ranks) and ranks[0] == 1 and ranks[-1] == 500


def test_local_frame_rows_names_and_types(spark):
    """local_frame builds constant frames from JVM literals: given rows
    come back with the DDL's column names and types (None stays null),
    and no rows is an empty frame the optimizer folds to an empty
    LocalRelation."""
    from pyspark.sql.types import StructType

    from crawler_pyspider_spark.engine import CrawlEngine

    def types(ddl):
        return [(f.name, f.dataType.simpleString()) for f in StructType.fromDDL(ddl)]

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    rows = [
        ("data:,on_finished:1", "p", 9, 0.0, "on_finished", 900_000_000),
        ("data:,x", None, 0, 1.5, None, 3_000_000_000),
    ]
    ctl = FR.local_frame(spark, rows, CrawlEngine.CONTROL_ROWS_DDL)
    assert ctl.dtypes == types(CrawlEngine.CONTROL_ROWS_DDL)
    assert [tuple(r) for r in ctl.collect()] == rows
    assert "LogicalRDD" not in plan(ctl)
    for df, ddl in (
        (FR.empty_frontier(spark), FR.FRONTIER_SCHEMA),
        (FR.empty_token_state(spark), "host string, tokens double, last_update double"),
    ):
        assert df.dtypes == types(ddl)
        assert df.collect() == []
        assert plan(df).startswith("LocalRelation <empty>"), plan(df)


def test_upsert_layers_lease_shadowed_only_where_status_exists(spark):
    """The engine's epoch-tail fold ``upsert_layers([delta, lease rows,
    status rows])``: a key with a status row takes the status row's
    values (the outcome clears the lease); a key whose status row is
    missing keeps the lease layer's ``lease_expires``; a key only in
    the delta is untouched."""
    lease = NOW + FR.LEASE_SECONDS
    keys = [f"k{i}" for i in range(5)]
    delta = mk_frontier(spark, [dict(taskid=k, priority=1) for k in keys])
    lease_rows = mk_frontier(
        spark, [dict(taskid=k, priority=1, lease_expires=lease) for k in keys[:4]]
    )
    status_rows = mk_frontier(
        spark,
        [
            dict(taskid=k, priority=1, status=FR.SUCCESS, lastcrawltime=NOW)
            for k in keys[:2]
        ],
    )
    out = {
        r["taskid"]: (r["status"], r["lease_expires"], r["lastcrawltime"])
        for r in FR.upsert_layers([delta, lease_rows, status_rows]).collect()
    }
    assert out == {
        "k0": (FR.SUCCESS, None, NOW),
        "k1": (FR.SUCCESS, None, NOW),
        "k2": (FR.ACTIVE, lease, None),
        "k3": (FR.ACTIVE, lease, None),
        "k4": (FR.ACTIVE, None, None),
    }


def test_upsert_layers_precedence_single_shuffle(spark):
    """upsert_layers: later layers win per key; result equals the
    chained pairwise upserts; the plan has exactly ONE exchange (the
    point of fusing the layers)."""
    def frame(rows):
        base = FR.empty_frontier(spark)
        cols = dict.fromkeys(FR.FRONTIER_COLS)
        out = spark.createDataFrame(
            [(p, t) for p, t, _ in rows], "project string, taskid string"
        )
        for c, dt in base.dtypes:
            if c in ("project", "taskid"):
                continue
            out = out.withColumn(c, F.lit(None).cast(dt))
        pri = {(p, t): pr for p, t, pr in rows}
        out = out.withColumn(
            "priority",
            F.udf(lambda p, t: pri[(p, t)], "int")("project", "taskid"),
        )
        return out.select(*FR.FRONTIER_COLS)

    a = frame([("p", "k1", 1), ("p", "k2", 1)])
    b = frame([("p", "k2", 2), ("p", "k3", 2)])
    c = frame([("p", "k3", 3), ("p", "k4", 3)])
    fused = FR.upsert_layers([a, b, c])
    chained = FR.upsert(FR.upsert(a, b), c)
    key = lambda df: sorted(  # noqa: E731
        (r["taskid"], r["priority"]) for r in df.collect()
    )
    assert key(fused) == key(chained)
    assert key(fused) == [("k1", 1), ("k2", 2), ("k3", 3), ("k4", 3)]
    # fewer exchanges than the chained form (one merge shuffle total vs
    # one per pairwise upsert; absolute counts include the fixture's
    # own exchanges, so compare the two plans)
    n_ex = lambda df: df._jdf.queryExecution().executedPlan().toString(  # noqa: E731
    ).count("Exchange")
    assert n_ex(fused) < n_ex(chained)
