"""Production HTTP fetch stage (S6) — partition-parallel pooled GETs.

The sandbox engine answers fetches by broadcast-joining the select batch
against a ``pages`` table; on a real cluster the fetch is network I/O.
This module implements that path Spark-natively, mirroring the
reference's fetcher semantics (tornado_fetcher.py):

- the caller repartitions the select batch by ``host_bucket`` first, so
  a partition holds few hosts (connection reuse + politeness locality —
  the north rule's "repartition-by-host-bucket before fetch
  scheduling");
- ``mapInPandas`` runs a ``pool_size``-thread pool per partition (the
  reference fetcher's ``poolsize`` connection pool,
  tornado_fetcher.py:76-84) issuing conditional GETs — ``If-None-Match``
  from the task's ``last_etag`` (tornado_fetcher.py:273-281);
- every task returns a row: body/status/etag on success, 304 with no
  body when unmodified, the HTTP error code on 4xx/5xx, 599 on
  connection errors (tornado_fetcher.py handle_error's canonical code);
- the output schema appends the same ``_p_html/_p_status/_p_etag``
  columns the pages-join path produces, so the engine's downstream
  status gate + parse stage is byte-identical for both modes.

Only stdlib ``urllib`` is used (aiohttp/tornado are not in this
container); a thread pool is the right concurrency shape for blocking
I/O and keeps the Arrow batch boundary intact.
"""

from __future__ import annotations

import urllib.error
import urllib.request
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from crawler_pyspider_spark.operators.redirects import (
    DEFAULT_MAX_REDIRECTS,
    REDIRECT_STATUSES,
)

USER_AGENT = "spark-frontier/1.0"
CONNECTION_ERROR_CODE = 599  # tornado_fetcher handle_error convention


class _NoRedirect(urllib.request.HTTPRedirectHandler):
    """Disable urllib's silent auto-follow: 30x must surface so the
    fetch loop can track the chain (orig_url vs final url, hop budget)
    the way the reference fetcher does (tornado_fetcher.py:371-427)."""

    def redirect_request(self, *args, **kwargs):  # noqa: D102
        return None


_OPENER = urllib.request.build_opener(_NoRedirect)


def _update_jar(jar: dict, headers) -> None:
    """Fold a response's Set-Cookie headers into the jar (name -> value;
    the session-cookie merge of tornado_fetcher.py:429-450 — attributes
    like Path/Expires are dropped, matching the reference's result dict
    which exposes plain name/value pairs)."""
    try:
        from http.cookies import SimpleCookie

        for h in headers.get_all("Set-Cookie") or []:
            c = SimpleCookie()
            c.load(h)
            for k, morsel in c.items():
                jar[k] = morsel.value
    except Exception:
        pass  # malformed Set-Cookie never kills the fetch


def fetch_one(
    url: str,
    etag: str | None,
    timeout: float,
    fetch_json: str | None = None,
    max_redirects: int = DEFAULT_MAX_REDIRECTS,
    cookies_json: str | None = None,
):
    """One conditional request following ≤ ``max_redirects`` manually ->
    (body|None, status_code, etag|None, final_url, n_redirects,
    cookies_json|None).

    ``fetch_json`` is the task's fetch-options compartment (the
    reference task dict's ``fetch``; tornado_fetcher.py:232-301 consumes
    method/headers/cookies/data/user_agent/timeout per request).  POST
    bodies redirect per RFC: 301/302/303 re-issue as GET without the
    body, 307/308 preserve method+body.

    Cookies run through a per-task jar: seeded from ``cookies_json``
    (the task's stored ``last_cookies`` — session continuation across
    epochs), overlaid by the request's own cookie options, updated from
    every hop's Set-Cookie and PRESENTED to the next hop (the
    CookieJar-per-session behavior of tornado_fetcher.py:240-252 +
    :429-450); the final jar is returned so the engine can persist it."""
    import json

    method, data, extra_headers, per_timeout = "GET", None, {}, timeout
    jar: dict = {}
    if cookies_json:
        try:
            jar.update(json.loads(cookies_json))
        except (ValueError, TypeError):
            pass
    if fetch_json:
        try:
            opts = json.loads(fetch_json)
            method = str(opts.get("method", "GET")).upper()
            d = opts.get("data")
            if d is not None:
                data = d.encode() if isinstance(d, str) else bytes(d)
            elif opts.get("data_b64") is not None:
                # binary bodies (multipart/form-data from
                # CrawlBuilder.set_files) ride the JSON fetch
                # compartment base64-encoded
                import base64

                data = base64.b64decode(opts["data_b64"])
            if data is not None and method == "GET":
                method = "POST"  # data implies POST (reference _build_url)
            for hk, hv in (opts.get("headers") or {}).items():
                extra_headers[str(hk)] = str(hv)
            ck = opts.get("cookies")
            if ck:
                jar.update({str(k): str(v) for k, v in ck.items()})
            if opts.get("user_agent"):
                extra_headers["User-Agent"] = str(opts["user_agent"])
            if opts.get("timeout"):
                per_timeout = float(opts["timeout"])
        except (ValueError, TypeError, AttributeError):
            pass  # malformed fetch payload -> plain GET (never kill the batch)
    cur, hops = url, 0

    def _jar_out():
        return json.dumps(jar, sort_keys=True) if jar else None

    while True:
        headers = {"User-Agent": USER_AGENT, **extra_headers}
        if jar:
            headers["Cookie"] = "; ".join(f"{k}={v}" for k, v in jar.items())
        req = urllib.request.Request(cur, data=data, headers=headers, method=method)
        if etag:
            req.add_header("If-None-Match", etag)
        try:
            with _OPENER.open(req, timeout=per_timeout) as resp:
                _update_jar(jar, resp.headers)
                return (
                    resp.read(), int(resp.status), resp.headers.get("ETag"),
                    cur, hops, _jar_out(),
                )
        except urllib.error.HTTPError as e:
            _update_jar(jar, e.headers)
            if e.code in REDIRECT_STATUSES and hops < max_redirects:
                loc = e.headers.get("Location")
                if loc:
                    from urllib.parse import urljoin

                    cur = urljoin(cur, loc)
                    hops += 1
                    if e.code in (301, 302, 303):
                        method, data = "GET", None
                    continue
            if e.code == 304:
                return None, 304, etag, cur, hops, _jar_out()
            return None, int(e.code), None, cur, hops, _jar_out()
        except Exception:
            return None, CONNECTION_ERROR_CODE, None, cur, hops, _jar_out()


def fetch_http(
    tasks: DataFrame,
    pool_size: int = 100,
    timeout: float = 20.0,
    max_redirects: int = DEFAULT_MAX_REDIRECTS,
) -> DataFrame:
    """Fetch every task row over HTTP; appends _p_html/_p_status/_p_etag.

    All input columns pass through unchanged (the frontier row IS the
    task context), so the result slots into the engine exactly where the
    pages broadcast-join result does.
    """
    # fresh StructType — StructType.add would MUTATE the input frame's
    # cached schema and break mapInPandas's column resolution
    out_schema = StructType(
        list(tasks.schema.fields)
        + [
            StructField("_p_html", BinaryType()),
            StructField("_p_status", IntegerType()),
            StructField("_p_etag", StringType()),
            StructField("orig_url", StringType()),
            StructField("_redirects", IntegerType()),
            StructField("_p_cookies", StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import concurrent.futures as cf

        with cf.ThreadPoolExecutor(max_workers=pool_size) as pool:
            for pdf in batches:
                pdf = pdf.copy()
                if len(pdf) == 0:
                    pdf["_p_html"] = pd.Series([], dtype=object)
                    pdf["_p_status"] = pd.Series([], dtype="int32")
                    pdf["_p_etag"] = pd.Series([], dtype=object)
                    pdf["orig_url"] = pd.Series([], dtype=object)
                    pdf["_redirects"] = pd.Series([], dtype="int32")
                    pdf["_p_cookies"] = pd.Series([], dtype=object)
                    yield pdf
                    continue
                etags = (
                    pdf["last_etag"]
                    if "last_etag" in pdf.columns
                    else pd.Series([None] * len(pdf))
                )
                fopts = (
                    pdf["fetch"]
                    if "fetch" in pdf.columns
                    else pd.Series([None] * len(pdf))
                )
                jars = (
                    pdf["last_cookies"]
                    if "last_cookies" in pdf.columns
                    else pd.Series([None] * len(pdf))
                )
                results = list(
                    pool.map(
                        lambda t: fetch_one(
                            t[0], t[1], timeout, t[2], max_redirects, t[3]
                        ),
                        zip(pdf["url"], etags, fopts, jars),
                    )
                )
                pdf["_p_html"] = [r[0] for r in results]
                pdf["_p_status"] = pd.array(
                    [r[1] for r in results], dtype="int32"
                )
                pdf["_p_etag"] = [r[2] for r in results]
                # redirect chain: identity stays on orig_url, the row's
                # url becomes the final hop (reference response.url)
                pdf["orig_url"] = list(pdf["url"])
                pdf["url"] = [r[3] for r in results]
                pdf["_redirects"] = pd.array(
                    [r[4] for r in results], dtype="int32"
                )
                pdf["_p_cookies"] = [r[5] for r in results]
                yield pdf

    return tasks.mapInPandas(run, schema=out_schema)
