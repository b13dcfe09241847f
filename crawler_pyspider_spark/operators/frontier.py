"""Frontier state + scheduler semantics as DataFrame transformations.

The reference keeps per-project in-memory heaps (``scheduler/task_queue.py``)
and a mutable sqlite taskdb; every decision is record-at-a-time.  Here the
whole frontier is ONE DataFrame (parquet/Iceberg-snapshot table at scale,
partitioned by ``host_bucket``) and each scheduler decision is a column
expression or window rank, so Catalyst/AQE plan the shuffles.

Frontier schema (flat — struct-free for codegen/pruning; FIXTURES.md §5
shows the struct view used for parity fixtures):

    taskid        string   md5(canonical url)           (X1)
    project       string
    url           string   canonical
    host          string
    host_bucket   int      pmod(xxhash64(host), B) — pre-bucketed so the
                           select stage shuffles by int key
    status        int      1=ACTIVE 2=SUCCESS 3=FAILED 4=BAD
                           (database/base/taskdb.py:59-63)
    priority      int
    retries       int      default 3
    retried       int
    exetime       double   epoch-seconds; 0 = immediately ready
    age           long     -1 = never re-crawl by age
    itag          string
    force_update  boolean
    auto_recrawl  boolean
    cancel        boolean
    callback      string
    lastcrawltime double (nullable)
    updatetime    double
    seq           long     deterministic enqueue sequence
                           (epoch·1e9 + source_rank·1e4 + link_index —
                            replaces task_queue.py:28-38 AtomInt)
    lease_expires double (nullable)  in-flight fetch lease (W4)
    save          string (nullable)  JSON payload passed crawl→callback
                           (base_handler.py:222-225 / task['fetch']['save'])
    last_etag     string (nullable)  etag of the last successful fetch —
                           drives If-None-Match conditional fetch
                           (tornado_fetcher.py:273-281 track_headers)
    last_cookies  string (nullable)  JSON dict of the response cookie
                           jar after the last successful fetch — the
                           task presents it on its next request
                           (tornado_fetcher.py:429-450 result cookies)

Status flow reproduces scheduler.py:822-1001 exactly (see each
function's docstring for the file:line being matched).

All timestamps are parameters (``now``) — no wall-clock inside the
dataflow, so runs are deterministic and resumable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# status enum — database/base/taskdb.py:59-63
ACTIVE, SUCCESS, FAILED, BAD = 1, 2, 3, 4

# scheduler.py:143-149 default_schedule
DEFAULT_PRIORITY = 0
DEFAULT_RETRIES = 3
DEFAULT_AGE = -1

# scheduler.py:156-162 DEFAULT_RETRY_DELAY
RETRY_DELAYS = [30, 1 * 60 * 60, 6 * 60 * 60, 12 * 60 * 60]
RETRY_DELAY_DEFAULT = 24 * 60 * 60

# task_queue.py:135 processing_timeout
LEASE_SECONDS = 10 * 60

LOOP_LIMIT = 1000  # scheduler.py:150

FRONTIER_COLS = [
    "taskid", "project", "url", "host", "host_bucket", "status",
    "priority", "retries", "retried", "exetime", "age", "itag",
    "force_update", "auto_recrawl", "cancel", "callback",
    "lastcrawltime", "updatetime", "seq", "lease_expires",
    "save", "fetch", "last_etag", "last_cookies",
]

FRONTIER_SCHEMA = (
    "taskid string, project string, url string, host string,"
    " host_bucket int, status int, priority int, retries int,"
    " retried int, exetime double, age long, itag string,"
    " force_update boolean, auto_recrawl boolean, cancel boolean,"
    " callback string, lastcrawltime double, updatetime double,"
    " seq long, lease_expires double, save string, fetch string,"
    " last_etag string, last_cookies string"
)


def local_frame(spark, rows: list[tuple], ddl: str | StructType) -> DataFrame:
    """A constant frame built from JVM literals: ``rows`` (positional
    tuples) typed by ``ddl`` (a DDL string or a StructType).

    A frame made from a Python list is a Python RDD: every job that
    scans it runs one Python-worker task per default partition, even
    for zero rows.  Here no rows is a typed null projection under
    ``limit(0)``, which the optimizer folds to an empty LocalRelation
    (so anti-joins and unions against it are pruned away), and rows
    are literal structs inlined over a one-row, one-partition range."""
    schema = ddl if isinstance(ddl, StructType) else StructType.fromDDL(ddl)
    one = spark.range(1, numPartitions=1)
    if not rows:
        return one.select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
        ).limit(0)
    return one.select(F.inline(F.array(*[
        F.struct(*[
            F.lit(v).cast(f.dataType).alias(f.name)
            for v, f in zip(row, schema.fields, strict=True)
        ])
        for row in rows
    ])))


def empty_frontier(spark) -> DataFrame:
    return local_frame(spark, [], FRONTIER_SCHEMA)


def normalize_incoming(incoming: DataFrame, now: float) -> DataFrame:
    """Fill schedule defaults on an incoming request batch.

    Input needs at least (taskid, project, url, host, host_bucket, seq);
    optional schedule columns get reference defaults
    (scheduler.py:143-149)."""
    defaults = {
        "priority": F.lit(DEFAULT_PRIORITY).cast("int"),
        "retries": F.lit(DEFAULT_RETRIES).cast("int"),
        "retried": F.lit(0).cast("int"),
        "exetime": F.lit(0.0).cast("double"),
        "age": F.lit(DEFAULT_AGE).cast("long"),
        "itag": F.lit(None).cast("string"),
        "force_update": F.lit(False),
        "auto_recrawl": F.lit(False),
        "cancel": F.lit(False),
        "callback": F.lit("index_page"),
        "save": F.lit(None).cast("string"),
        # per-task fetch options JSON (method/headers/cookies/data —
        # the reference task dict's `fetch` compartment,
        # database/base/taskdb.py task schema); consumed by the
        # fetch_mode='http' stage, ignored by the pages join
        "fetch": F.lit(None).cast("string"),
    }
    out = incoming
    for name, default in defaults.items():
        if name not in out.columns:
            out = out.withColumn(name, default)
        else:
            out = out.withColumn(name, F.coalesce(F.col(name), default))
    out = out.withColumn("status", F.lit(ACTIVE).cast("int"))
    out = out.withColumn("lastcrawltime", F.lit(None).cast("double"))
    out = out.withColumn("updatetime", F.lit(float(now)))
    out = out.withColumn("lease_expires", F.lit(None).cast("double"))
    out = out.withColumn("last_etag", F.lit(None).cast("string"))
    out = out.withColumn("last_cookies", F.lit(None).cast("string"))
    return out.select(*FRONTIER_COLS)


def dedup_batch(incoming: DataFrame) -> DataFrame:
    """Within-batch dedup by (project, taskid): first arrival wins unless
    a later one carries force_update (scheduler.py:388-418 keyed-dict
    consume; A2).  Deterministic via seq ordering.

    Implemented as ``min_by`` aggregation, NOT a row_number window: the
    aggregate gets map-side partial combine and no per-partition sort,
    which matters enormously when nearly every key is unique (the
    common case for a URL batch)."""
    payload = [c for c in incoming.columns if c not in ("project", "taskid")]
    order_key = F.struct(
        (~F.coalesce(F.col("force_update"), F.lit(False))).cast("int").alias("fu"),
        F.col("seq").alias("seq"),
    )
    agg = incoming.groupBy("project", "taskid").agg(
        F.min_by(F.struct(*payload), order_key).alias("_r")
    )
    return agg.select(
        "project", "taskid", *[F.col(f"_r.{c}").alias(c) for c in payload]
    ).select(*incoming.columns)


def dedup_raw(incoming: DataFrame) -> DataFrame:
    """Pre-canonicalization dedup by (project, RAW url).

    Identical raw urls canonicalize identically, hence share a taskid,
    so keeping only the row ``dedup_batch`` would keep among them —
    min of (¬force_update, seq) — is exact: the later taskid-level
    dedup takes the minimum of these per-url minima.  Runs BEFORE the
    canonicalize pandas UDF so repeated links (nav bars, footers, the
    10-30× fan-in of a link graph) never pay the Python hop — at web
    scale this collapses the ingest batch by the graph's in-degree.

    NOT exact when the caller overrides task identity (custom taskids
    can split rows that share a url) — the engine skips it then."""
    payload = [c for c in incoming.columns if c not in ("project", "url")]
    fu = (
        F.coalesce(F.col("force_update"), F.lit(False))
        if "force_update" in incoming.columns
        else F.lit(False)
    )
    order_key = F.struct(
        (~fu).cast("int").alias("fu"), F.col("seq").alias("seq")
    )
    agg = incoming.groupBy("project", "url").agg(
        F.min_by(F.struct(*payload), order_key).alias("_r")
    )
    return agg.select(
        "project", "url", *[F.col(f"_r.{c}").alias(c) for c in payload]
    ).select(*incoming.columns)


def apply_inqueue_limit(
    incoming: DataFrame, frontier: DataFrame, inqueue_limit: int | None
) -> DataFrame:
    """Drop arrivals beyond INQUEUE_LIMIT per project (scheduler.py:823-826;
    F9).  Queue size = ACTIVE rows; admission is seq-ordered so the batch
    prefix wins, matching the reference's sequential arrival order."""
    if not inqueue_limit:
        return incoming
    qsize = (
        frontier.filter(F.col("status") == ACTIVE)
        .groupBy("project")
        .agg(F.count("*").alias("_qsize"))
    )
    w = Window.partitionBy("project").orderBy("seq")
    return (
        incoming.join(F.broadcast(qsize), "project", "left")
        .withColumn("_qsize", F.coalesce(F.col("_qsize"), F.lit(0)))
        .withColumn("_arn", F.row_number().over(w))
        .filter(F.col("_arn") <= F.lit(inqueue_limit) - F.col("_qsize"))
        .drop("_qsize", "_arn")
    )


def restart_flags(itag_new, itag_old, age, lastcrawltime, force_update, now: float):
    """The on_old_request restart decision table (scheduler.py:849-877):
    restart iff itag changed | age expired | force_update.  Returns
    (itag_changed, age_expired, restart) Columns.  Shared by
    ``merge_incoming`` and the oracle query ``q_restart_decision`` so a
    regression here flips a CORRECTNESS row."""
    itag_changed = itag_new.isNotNull() & ~itag_new.eqNullSafe(itag_old)
    age_expired = (age >= 0) & (age + lastcrawltime < F.lit(float(now)))
    return itag_changed, age_expired, (itag_changed | age_expired | force_update)


def merge_incoming(
    frontier: DataFrame,
    incoming: DataFrame,
    now: float,
    inqueue_limit: int | None = None,
) -> DataFrame:
    """The new/old decision table folded into the frontier — see
    ``merge_changes`` for the decision semantics.  Returns
    (frontier', deferred).  The engine's merge-on-read path calls
    ``merge_changes`` directly and appends the changes to its delta
    instead of re-aggregating the whole frontier."""
    changes, deferred = merge_changes(frontier, incoming, now, inqueue_limit)
    return upsert(frontier, changes), deferred


def merge_changes(
    frontier: DataFrame,
    incoming: DataFrame,
    now: float,
    inqueue_limit: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The new/old decision table (scheduler.py:822-897; J1 + restart
    rules), set-at-a-time.

    new task      -> insert ACTIVE (on_new_request :835-847)
    old task      -> restart iff itag changed | age expired | force_update
                     (on_old_request :849-877); cancel -> BAD (:877-881);
                     in-flight + force_update -> postponed (:855-861 —
                     here: the arrival is simply retried next epoch by
                     returning it in the deferred output)
    not restarted -> arrival ignored

    Returns (changes, deferred): ``changes`` are the accepted rows in
    frontier schema (upsert them, or append them to a merge-on-read
    delta); ``deferred`` are postponed force_update arrivals to
    re-inject next epoch (U4).
    """
    inc = dedup_batch(incoming)
    inc = apply_inqueue_limit(inc, frontier, inqueue_limit)

    old = frontier.select(
        F.col("project").alias("_o_project"),
        F.col("taskid").alias("_o_taskid"),
        F.col("status").alias("_o_status"),
        F.col("itag").alias("_o_itag"),
        F.col("lastcrawltime").alias("_o_lastcrawltime"),
        F.col("lease_expires").alias("_o_lease"),
        F.col("last_etag").alias("_o_last_etag"),
        F.col("last_cookies").alias("_o_last_cookies"),
    )
    j = inc.join(
        old,
        (inc["project"] == old["_o_project"]) & (inc["taskid"] == old["_o_taskid"]),
        "left",
    )

    is_new = F.col("_o_status").isNull()
    in_flight = F.col("_o_lease").isNotNull() & (F.col("_o_lease") > F.lit(float(now)))
    postponed = (~is_new) & F.col("force_update") & in_flight

    _, _, restart = restart_flags(
        F.col("itag"),
        F.col("_o_itag"),
        F.col("age"),
        F.coalesce(F.col("_o_lastcrawltime"), F.lit(0.0)),
        F.col("force_update"),
        now,
    )

    accepted = j.filter(~postponed & (is_new | restart))
    deferred = j.filter(postponed).select(*inc.columns)

    changes = (
        accepted.withColumn(
            "status",
            F.when(~is_new & F.col("cancel"), F.lit(BAD)).otherwise(F.lit(ACTIVE)),
        )
        # a restart of an in-flight task must not clear the live lease
        # (reference: task_queue.put is a no-op while the taskid sits in
        # the processing queue — task_queue.py:226-231); the conditional-
        # fetch etag likewise survives restarts (track headers persist
        # until the next fetch — tornado_fetcher.py:273-281)
        .withColumn("lease_expires", F.col("_o_lease"))
        .withColumn("last_etag", F.col("_o_last_etag"))
        .withColumn("last_cookies", F.col("_o_last_cookies"))
        .select(*FRONTIER_COLS)
    )
    return changes, deferred


def upsert(
    frontier: DataFrame, changes: DataFrame, cols: list[str] | None = None
) -> DataFrame:
    """Latest-wins MERGE by (project, taskid) — the Iceberg ``MERGE INTO``
    equivalent (S3).  changes take precedence over existing rows.

    One shuffle over frontier ∪ changes, as a ``max_by`` aggregation
    (map-side partial combine, no sort) — a row_number window here
    anti-scales because virtually every (project, taskid) group has a
    single row.  Both sides are unique per key (frontier invariant;
    changes are dedup'd), so max_by on the precedence tag is
    deterministic.  At 10^10 rows the frontier table is bucketed by
    taskid hash so this co-partitions (Iceberg bucket transform /
    storage-partitioned join on a real cluster); the engine's
    merge-on-read path additionally keeps this agg's input down to
    base-delta size, so the full frontier never re-shuffles per epoch.

    ``cols`` overrides the column list (default FRONTIER_COLS) — the
    engine's delta carries an extra ``_live`` tombstone flag."""
    return upsert_layers([frontier, changes], cols)


def upsert_layers(
    frames: list[DataFrame], cols: list[str] | None = None
) -> DataFrame:
    """N-layer latest-wins MERGE in ONE shuffle: ``frames[i+1]`` takes
    precedence over ``frames[i]`` per (project, taskid).  Each frame
    must be unique per key (the pairwise-``upsert`` precondition); the
    union is tagged with the layer index and resolved by a single
    ``max_by`` aggregation — chaining pairwise upserts instead would
    pay one shuffle per layer for the same result."""
    cols = cols or FRONTIER_COLS
    payload = [c for c in cols if c not in ("project", "taskid")]
    tagged = frames[0].select(*cols).withColumn("_prec", F.lit(0))
    for i, fr in enumerate(frames[1:], start=1):
        tagged = tagged.unionByName(
            fr.select(*cols).withColumn("_prec", F.lit(i))
        )
    agg = tagged.groupBy("project", "taskid").agg(
        F.max_by(F.struct(*payload), F.col("_prec")).alias("_r")
    )
    return agg.select(
        "project", "taskid", *[F.col(f"_r.{c}").alias(c) for c in payload]
    ).select(*cols)


# --------------------------------------------------------------------------
# select stage: politeness-budgeted priority ranking
# --------------------------------------------------------------------------


def ready_filter(now: float):
    """Schedulable rows: ACTIVE ∧ exetime arrived ∧ not under a live
    lease (task_queue.py:169-188 — time queue release F4 + processing
    timeout F5 in one predicate)."""
    return (
        (F.col("status") == ACTIVE)
        & (F.col("exetime") <= F.lit(float(now)))
        & (F.col("lease_expires").isNull() | (F.col("lease_expires") <= F.lit(float(now))))
    )


def host_budgets(
    ready_counts: DataFrame,
    token_state: DataFrame,
    politeness: DataFrame,
    now: float,
    default_rate: float = 1.0,
    default_burst: float = 10.0,
) -> DataFrame:
    """Token-bucket refill per host (token_bucket.py:15-55, W2):
    ``tokens = min(burst, tokens + rate·(now - last_update))``;
    budget this epoch = floor(tokens).

    token_state: (host, tokens, last_update) carried across epochs;
    hosts seen for the first time start with a full bucket (reference
    Bucket.__init__ starts at burst)."""
    pol = politeness.select(
        F.col("key").alias("host"),
        F.col("rate").alias("_rate"),
        F.col("burst").alias("_burst"),
    )
    df = (
        ready_counts.join(token_state, "host", "left")
        .join(pol, "host", "left")
        .withColumn("_rate", F.coalesce(F.col("_rate"), F.lit(default_rate)))
        .withColumn("_burst", F.coalesce(F.col("_burst"), F.lit(default_burst)))
    )
    refill = F.least(
        F.col("_burst"),
        F.coalesce(F.col("tokens"), F.col("_burst"))
        + F.col("_rate") * (F.lit(float(now)) - F.coalesce(F.col("last_update"), F.lit(float(now)))),
    )
    return df.select(
        "host",
        refill.alias("tokens_avail"),
        F.col("_rate").alias("rate"),
        F.col("_burst").alias("burst"),
        F.floor(refill).cast("int").alias("budget"),
    )


def select_batch(
    frontier: DataFrame,
    token_state: DataFrame,
    politeness: DataFrame,
    now: float,
    loop_limit: int = LOOP_LIMIT,
    n_salts: int = 8,
    salt_threshold: int = 10000,
    project_budgets: DataFrame | None = None,
    n_projects: int | None = None,
    total_ready: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Politeness-budgeted, priority-ordered select (W1+W2+W3+W4).

    Ordering per host: priority DESC, seq ASC — task_queue.py:55-66
    (InQueueTask.__cmp__) + the FIFO-sequence rationale at :190-203.

    Skew handling: hosts whose ready-count exceeds ``salt_threshold``
    are ranked in two phases (SURVEY.md §4): phase 1 ranks within
    (host, salt) and keeps the per-salt top-``budget`` (budgets are
    small — politeness! — so this is cheap), phase 2 re-ranks the
    survivors per host and keeps exactly ``budget``.  The global
    top-budget set per host is provably contained in the union of
    per-salt top-budget sets, so salting never changes the result.

    Per-project fairness (scheduler.py:478-536, W3): quota_p =
    clamp(loop_limit · qsize_p/Σqsize, loop_limit/10, loop_limit/3)
    when >1 project, then a global seq-ordered cap at loop_limit.
    ``project_budgets`` (project, budget) — the per-project rate/burst
    token bucket from projectdb (scheduler.py:506-536 value_q limiting,
    projectdb.py:21-22) — caps each project's selects on top of the
    fairness quota when provided.

    Returns (selected, budgets_used) where selected carries the fetch
    lease (exetime = now + 600 — task_queue.py:227-242) and
    budgets_used = (host, n_selected, tokens_avail, rate, burst) for the
    token-state update.

    ``n_projects`` / ``total_ready`` are driver-known HINTS that skip
    the per-epoch qsizes collect job: when the caller declares a single
    project, the fairness quota can never bind, and when it supplies an
    UPPER BOUND on the ready-row count that is ≤ ``loop_limit``, the
    global cap can never bind either — both checks then cost zero Spark
    jobs.  ``total_ready`` MUST be a true upper bound: an OVERestimate
    only costs an unnecessary sort-limit (correctness unaffected), but
    an UNDERestimate ≤ ``loop_limit`` would skip the global cap and let
    the batch silently exceed it.  ``None`` falls back to computing the
    exact sizes.
    """
    ready = frontier.filter(ready_filter(now))

    counts = ready.groupBy("host").agg(F.count("*").alias("ready_cnt"))
    budgets = host_budgets(counts, token_state, politeness, now)
    # budgets/counts have one row per host with ready tasks — much
    # smaller than the frontier; AQE broadcasts them when they fit,
    # shuffle-joins otherwise (10^8-host scale), so no explicit hint.
    # Merge the two dim frames FIRST (dim×dim) so the big ready frame
    # is joined exactly once, not once per dim.  Left-join from counts
    # with a coalesced default: ``budgets`` is derived from ``counts``
    # so the host sets match today, but a budgets-side gap must read as
    # budget 0 (row not selectable), never as a silently vanished host.
    host_dim = counts.join(budgets.select("host", "budget"), "host", "left")
    ranked_src = ready.join(host_dim, "host", "left").withColumn(
        "_budget", F.coalesce(F.col("budget"), F.lit(0))
    )

    order = [F.col("priority").desc(), F.col("seq").asc()]

    # Hosts whose budget covers their whole ready set need NO ranking:
    # every row is selected, no window, no sort.  At web scale most
    # hosts have a handful of ready tasks against a full token bucket,
    # so the ranking machinery below only ever touches the contended
    # hosts — and a wide-open budget (bench mode) costs zero windows.
    nonbinding = ranked_src.filter(F.col("ready_cnt") <= F.col("_budget"))
    # Budget-0 hosts can never contribute a row — drop them BEFORE the
    # window, not after ranking.  In a politeness-bound steady state
    # (tokens drained, refill < 1/epoch) most of the frontier's ready
    # rows sit on budget-0 hosts; sorting them inside the rank window
    # only to filter _rn <= 0 made select cost scale with PENDING volume
    # instead of selectable volume.
    binding = ranked_src.filter(
        (F.col("ready_cnt") > F.col("_budget")) & (F.col("_budget") > 0)
    )

    # Light contended hosts (ready_cnt ≤ salt_threshold) rank in ONE
    # exact per-host window; only HEAVY hosts pay the two-phase salted
    # plan.  Routing light hosts through phase 1 with _salt=0 and then
    # re-windowing them in phase 2 was an identity re-rank — one extra
    # exchange+sort over every survivor row for nothing (the common
    # case: politeness budgets are small, few hosts are ever heavy).
    heavy = F.col("ready_cnt") > salt_threshold
    w2 = Window.partitionBy("project", "host").orderBy(*order)
    light_ranked = (
        binding.filter(~heavy)
        .withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= F.col("_budget"))
        .drop("_rn")
    )

    # phase 1 — salted pre-rank for heavy contended hosts only
    salted = binding.filter(heavy).withColumn(
        "_salt", F.pmod(F.xxhash64("taskid"), F.lit(n_salts))
    )
    w1 = Window.partitionBy("project", "host", "_salt").orderBy(*order)
    phase1 = salted.withColumn("_rn1", F.row_number().over(w1)).filter(
        F.col("_rn1") <= F.col("_budget")
    )

    # phase 2 — exact per-host rank over the (≤ n_salts·budget) survivors
    ranked = (
        phase1.withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= F.col("_budget"))
        .drop("_salt", "_rn1", "_rn2")
    )
    per_host = nonbinding.unionByName(light_ranked).unionByName(ranked)

    # per-project quota (W3) then global LOOP_LIMIT cap (T2)
    if n_projects == 1 and total_ready is not None:
        # single project ⇒ quota can't bind; caller-supplied ready
        # bound decides the global cap — no qsizes job this epoch
        qsizes, total, nproj = None, total_ready, 1
    else:
        qsizes = ready.groupBy("project").agg(F.count("*").alias("_qsize"))
        qrows = qsizes.collect()  # one row per project — dim-sized, one job
        total = sum(r["_qsize"] for r in qrows)
        nproj = len(qrows)
    cap = None
    if nproj > 1 and total > 0:
        quota = project_quotas(qsizes, total, loop_limit).select("project", "_quota")
        per_host = per_host.join(F.broadcast(quota), "project", "left")
        cap = F.col("_quota")
    if project_budgets is not None:
        pb = project_budgets.select(
            "project", F.col("budget").alias("_pbudget")
        )
        per_host = per_host.join(F.broadcast(pb), "project", "left")
        b = F.coalesce(F.col("_pbudget"), F.lit(0))
        cap = b if cap is None else F.least(cap, b)
    if cap is not None:
        wp = Window.partitionBy("project").orderBy(*order)
        per_host = (
            per_host.withColumn("_rnp", F.row_number().over(wp))
            .filter(F.col("_rnp") <= cap)
        )
    if total > loop_limit:
        # The global LOOP_LIMIT cap can bind: deterministic top-k via
        # sort-limit (TakeOrderedAndProject — per-partition partial
        # top-k merged at the driver), NOT a single-partition window.
        capped = per_host.orderBy(*order, F.asc("taskid")).limit(loop_limit)
    else:
        # ready total <= loop_limit ⇒ the cap cannot bind; skip the sort
        capped = per_host
    selected = capped.select(*FRONTIER_COLS).withColumn(
        "lease_expires", F.lit(float(now + LEASE_SECONDS))
    )

    used = (
        selected.groupBy("host")
        .agg(F.count("*").alias("n_selected"))
        .join(budgets, "host", "right")
        .withColumn("n_selected", F.coalesce(F.col("n_selected"), F.lit(0)))
        .select("host", "n_selected", "tokens_avail", "rate", "burst")
    )
    return selected, used


def project_quotas(qsizes: DataFrame, total: int, loop_limit: int) -> DataFrame:
    """Per-project select quota ∝ queue size with clamps
    (scheduler.py:483-523; A5/W3): quota = clamp(loop_limit·w/Σw,
    loop_limit/10, loop_limit/3).  ``qsizes`` needs (project, _qsize);
    adds ``_quota``.  Shared by ``select_batch`` and the oracle query
    ``q_select_quota``."""
    min_q, max_q = int(loop_limit / 10.0), int(loop_limit / 3.0)
    return qsizes.withColumn(
        "_quota",
        F.greatest(
            F.lit(min_q),
            F.least(
                F.lit(max_q),
                (F.col("_qsize") / F.lit(float(total)) * loop_limit).cast("int"),
            ),
        ),
    )


def trailing_fail_streak(
    statuses: DataFrame, key: str = "project", seq_col: str = "seq", ok_col: str = "ok"
) -> DataFrame:
    """Consecutive trailing failures per key (Project.paused streak,
    scheduler.py:52-103; A10): the number of failed rows ordered after
    the last ok row.  Keys whose latest row is ok are absent (streak 0).
    Shared by the engine pause machine and the oracle query
    ``q_fail_streak``."""
    last_ok = statuses.groupBy(key).agg(
        F.max(F.when(F.col(ok_col), F.col(seq_col))).alias("_last_ok")
    )
    return (
        statuses.join(last_ok, key, "left")
        .filter(
            (~F.col(ok_col))
            & (F.col("_last_ok").isNull() | (F.col(seq_col) > F.col("_last_ok")))
        )
        .groupBy(key)
        .agg(F.count("*").alias("fail_streak"))
    )


def update_token_state(token_state: DataFrame, used: DataFrame, now: float) -> DataFrame:
    """tokens' = tokens_avail - n_selected; last_update = now
    (Bucket.desc per selected task, token_bucket.py:50-55)."""
    new_rows = used.select(
        "host",
        (F.col("tokens_avail") - F.col("n_selected")).alias("tokens"),
        F.lit(float(now)).alias("last_update"),
    )
    keep = token_state.join(used.select("host"), "host", "left_anti")
    return keep.unionByName(new_rows)


def empty_token_state(spark) -> DataFrame:
    return local_frame(spark, [], "host string, tokens double, last_update double")


def with_global_rank(
    df: DataFrame,
    rank_col: str,
    order: list,
    approx_rows: int | None = None,
    n_parts: int | None = None,
    small_threshold: int = 100_000,
    cache_list: list | None = None,
) -> DataFrame:
    """Deterministic global ``row_number`` by ``order`` without the
    single-partition-window trap.

    Small inputs (≤ ``small_threshold``, when the caller knows the size)
    take the plain window.  Large inputs use range-repartition on the
    sort key + per-partition rank + broadcast cumulative offsets: exact
    same rank values (range partitions are disjoint and ordered, so
    offset[pid] + local_rn is the global rank regardless of where the
    sampled bounds fall), but the sort is distributed.  ``order`` must
    be a total order (unique key) for ranks to be well-defined.

    The reference's analogue is the global in-queue sequence counter
    (task_queue.py:28-38) — a driver-side AtomInt that could never
    scale past one process.
    """
    if approx_rows is not None and approx_rows <= small_threshold:
        # Single-reducer rank WITHOUT WindowExec's no-partition plan:
        # exchange to one partition (upstream stages keep their
        # parallelism), sort inside it, and number rows by physical
        # order — monotonically_increasing_id in partition 0 is the
        # 0-based row index.  Same data movement as the unpartitioned
        # window, none of its "No Partition Defined" straggler shape in
        # the plan; callers keep this path for small inputs only (the
        # engine ranks an 8-byte seq column, so the threshold rows are
        # ~tens of MB in the one task).
        one = df.repartition(1).sortWithinPartitions(*order)
        return one.withColumn(
            rank_col, (F.monotonically_increasing_id() + 1).cast("long")
        )
    parts = n_parts or df.sparkSession.sparkContext.defaultParallelism
    rp = df.repartitionByRange(parts, *order).withColumn(
        "_grk_pid", F.spark_partition_id()
    )
    # Pin the partitioning BEFORE collecting per-partition counts: the
    # range partitioner samples the sort key with a per-job seed (and
    # AQE may re-coalesce), so an unpinned rp could partition
    # DIFFERENTLY in the downstream job than in the count job —
    # duplicate/missing seq ranks.  Callers that pass ``cache_list``
    # get a persist() handle to unpersist once the ranked output is
    # materialized; handle-less callers get localCheckpoint instead —
    # same pinning, but the blocks are reclaimed by the ContextCleaner
    # when the plan goes out of scope, so repeated direct calls don't
    # accumulate CacheManager entries.
    if cache_list is not None:
        rp = rp.persist()
        cache_list.append(rp)
    else:
        rp = rp.localCheckpoint(eager=True)
    cnts = {
        r["_grk_pid"]: r["cnt"]
        for r in rp.groupBy("_grk_pid").agg(F.count("*").alias("cnt")).collect()
    }
    if not cnts:
        return rp.drop("_grk_pid").withColumn(rank_col, F.lit(0).cast("long"))
    offsets, acc = {}, 0
    for pid in sorted(cnts):
        offsets[pid] = acc
        acc += cnts[pid]
    mapping = F.create_map(
        *[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
    )
    w = Window.partitionBy("_grk_pid").orderBy(*order)
    return (
        rp.withColumn("_grk_rn", F.row_number().over(w))
        .withColumn(
            rank_col,
            (mapping[F.col("_grk_pid")] + F.col("_grk_rn")).cast("long"),
        )
        .drop("_grk_pid", "_grk_rn")
    )


# --------------------------------------------------------------------------
# status stage: done / retry ladder
# --------------------------------------------------------------------------


def retry_next_exetime(recrawl) -> F.Column:
    """Retry-ladder delay math (on_task_failed scheduler.py:948-1001 +
    DEFAULT_RETRY_DELAY :156-162; W5) over columns (retried, retries,
    age): RETRY_DELAYS[retried] (default 24 h), capped by age, -1 when
    retries are exhausted; auto_recrawl (``recrawl`` column) caps by age
    before the terminal check.  Shared by ``apply_status`` and the
    oracle query ``q_retry_backoff``."""
    delay_map = F.create_map(
        *[x for i, d in enumerate(RETRY_DELAYS) for x in (F.lit(i), F.lit(d))]
    )
    raw = F.coalesce(
        F.element_at(delay_map, F.col("retried")), F.lit(RETRY_DELAY_DEFAULT)
    ).cast("double")
    has_age = F.col("age") >= 0
    return (
        F.when(recrawl, F.least(raw, F.col("age").cast("double")))
        .when(F.col("retried") >= F.col("retries"), F.lit(-1.0))
        .when(has_age & (raw > F.col("age")), F.col("age").cast("double"))
        .otherwise(raw)
    )


def recrawl_rearm(now: float):
    """auto_recrawl re-arm on success (scheduler.py:929-936; W6) over
    columns (auto_recrawl, age, exetime): re-arm keeps the task ACTIVE
    with exetime = now + age, otherwise terminal SUCCESS.  Returns
    (status, exetime) Columns; shared by ``apply_status`` and the
    oracle query ``q_recrawl_rearm``."""
    rearm = F.col("auto_recrawl") & (F.col("age") >= 0)
    status = F.when(rearm, F.lit(ACTIVE)).otherwise(F.lit(SUCCESS))
    exetime = F.when(rearm, F.lit(float(now)) + F.col("age")).otherwise(F.col("exetime"))
    return status, exetime


def apply_status(frontier: DataFrame, statuses: DataFrame, now: float) -> DataFrame:
    """``status_changes`` folded into the frontier via ``upsert`` — kept
    for the oracle battery and callers without a merge-on-read delta."""
    return upsert(frontier, status_changes(frontier, statuses, now))


def status_changes(frontier: DataFrame, statuses: DataFrame, now: float) -> DataFrame:
    """Fetch+process outcomes as frontier-schema change rows
    (on_task_done scheduler.py:924-946 + on_task_failed :948-1001).

    statuses: (project, taskid, ok:boolean [, etag:string]
    [, cookies:string]) for every task whose lease was taken this
    epoch; a non-null etag on a successful fetch is stored as
    last_etag for the next conditional fetch (tornado_fetcher.py:
    273-281), and a non-null cookies JSON is stored as last_cookies
    for the task's next request (the response cookie jar,
    tornado_fetcher.py:429-450).

    done:   status=SUCCESS, lastcrawltime=now; auto_recrawl ∧ age set ->
            stays ACTIVE with exetime = now + age (W6)
    failed: retry ladder W5 —
            next = RETRY_DELAYS[retried] (default 24 h);
            auto_recrawl ∧ age -> next = min(next, age)
            else retried ≥ retries -> terminal FAILED
            else age ≥ 0 ∧ next > age -> next = age
            retry -> retried+1, exetime = now + next, stays ACTIVE
    Either way the lease is cleared (task_queue done()/processing pop).
    """
    st = statuses.select(
        F.col("project").alias("_s_project"),
        F.col("taskid").alias("_s_taskid"),
        F.col("ok").alias("_ok"),
        (
            F.col("etag") if "etag" in statuses.columns else F.lit(None).cast("string")
        ).alias("_s_etag"),
        (
            F.col("cookies")
            if "cookies" in statuses.columns
            else F.lit(None).cast("string")
        ).alias("_s_cookies"),
    )
    j = frontier.join(
        st,
        (frontier["project"] == st["_s_project"]) & (frontier["taskid"] == st["_s_taskid"]),
        "inner",
    )

    nowl = F.lit(float(now))
    recrawl = F.col("auto_recrawl") & (F.col("age") >= 0)
    next_exe = retry_next_exetime(recrawl)
    done_status, done_exetime = recrawl_rearm(now)

    fail_terminal = next_exe < 0
    fail_status = F.when(fail_terminal, F.lit(FAILED)).otherwise(F.lit(ACTIVE))
    fail_exetime = F.when(fail_terminal, F.col("exetime")).otherwise(nowl + next_exe)
    fail_retried = F.when(fail_terminal, F.col("retried")).otherwise(F.col("retried") + 1)

    changed = (
        j.withColumn("status", F.when(F.col("_ok"), done_status).otherwise(fail_status))
        .withColumn("exetime", F.when(F.col("_ok"), done_exetime).otherwise(fail_exetime))
        .withColumn("retried", F.when(F.col("_ok"), F.col("retried")).otherwise(fail_retried))
        .withColumn("lastcrawltime", nowl)
        .withColumn("updatetime", nowl)
        .withColumn("lease_expires", F.lit(None).cast("double"))
        .withColumn(
            "last_etag",
            F.when(F.col("_ok") & F.col("_s_etag").isNotNull(), F.col("_s_etag"))
            .otherwise(F.col("last_etag")),
        )
        .withColumn(
            "last_cookies",
            F.when(
                F.col("_ok") & F.col("_s_cookies").isNotNull(), F.col("_s_cookies")
            ).otherwise(F.col("last_cookies")),
        )
        .select(*FRONTIER_COLS)
    )
    return changed


def status_count(frontier: DataFrame) -> DataFrame:
    """taskdb.status_count (database/sqlite/taskdb.py:86-99; S4/A4)."""
    return frontier.groupBy("project", "status").agg(F.count("*").alias("cnt"))
