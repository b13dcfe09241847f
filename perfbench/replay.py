"""Layer replay: call each layer's public function on the tables of the
last committed epoch and time it alone.

Every input is materialized before its call, untimed, and each output
is forced by a ``noop`` write, so a timing covers the one function and
the Spark work it plans.  The calls follow the engine's ingest → select
→ gate → parse order and pass what the engine passes.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from crawler_pyspider_spark.functions.extract import parse_page_meta
from crawler_pyspider_spark.functions.urls import with_url_identity
from crawler_pyspider_spark.operators import frontier as FR
from crawler_pyspider_spark.operators.robots import robots_gate


def _materialize(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.cache()
    return df, df.count()


def _force(tracer, name: str, df: DataFrame, rows_in: int) -> dict:
    obs = Observation(name)
    with tracer.span(name):
        t = time.monotonic()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.monotonic() - t
    return {"s": dt, "rows_in": rows_in, "rows_out": int(obs.get["n"])}


def replay(spark, tracer, eng, pages: DataFrame) -> dict:
    """``eng`` is an engine resumed from the warehouse, so its frontier,
    token state and pending are exactly the last committed snapshot."""
    out = {}
    now = eng.now(eng.epoch + 1)
    frontier, n_frontier = _materialize(eng.frontier)
    pending, n_pending = _materialize(eng.pending)

    out["urls.with_url_identity"] = _force(
        tracer, "urls.with_url_identity",
        with_url_identity(pending, "url", eng.n_host_buckets), n_pending,
    )
    out["frontier.dedup_raw"] = _force(
        tracer, "frontier.dedup_raw", FR.dedup_raw(pending), n_pending
    )
    inc = with_url_identity(FR.dedup_raw(pending), "url", eng.n_host_buckets)
    inc = inc.drop("url").withColumnRenamed("url_canon", "url")
    inc, n_inc = _materialize(FR.normalize_incoming(inc, now))
    changes, _ = FR.merge_changes(frontier, inc, now)
    out["frontier.merge_changes"] = _force(
        tracer, "frontier.merge_changes", changes, n_inc
    )

    def select():
        return FR.select_batch(
            frontier, eng.token_state, eng.politeness, now,
            loop_limit=eng.loop_limit, n_salts=eng.n_salts,
            salt_threshold=eng.salt_threshold, n_projects=1,
            total_ready=n_frontier,
        )[0]

    out["frontier.select_batch"] = _force(
        tracer, "frontier.select_batch", select(), n_frontier
    )
    selected, n_selected = _materialize(select())
    out["robots.robots_gate"] = _force(
        tracer, "robots.robots_gate", robots_gate(selected, eng.robots), n_selected
    )

    # parse input: the pages the last fetching epoch parsed
    store = eng.store
    last = next(
        e for e in range(eng.epoch, -1, -1)
        if "results" in store.manifest(e)["tables"]
    )
    fetched, n_fetched = _materialize(
        store.read("results", last).select("url").join(pages, "url")
    )
    out["extract.parse_page_meta"] = _force(
        tracer, "extract.parse_page_meta",
        fetched.select(parse_page_meta(F.col("url"), F.col("html")).alias("p")),
        n_fetched,
    )
    for df in (frontier, pending, inc, selected, fetched):
        df.unpersist()
    return out
