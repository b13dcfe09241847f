"""Fork-API sugar: CrawlBuilder / HandlerPage / URL+curl helpers.

The reference fork layers a fluent builder API over ``self.crawl()``
(libs/crawl_builder.py:5-320) and a handler-page pattern
(libs/base_crawl.py:18-177) whose pages know how to build their own
crawl request and enqueue themselves.  This module re-expresses that
surface over the Spark engine's row model: a builder produces ONE seed
row (url, project, priority, exetime, callback, save, custom_taskid),
and ``CrawlEngine.seed`` / ``enqueue`` turn lists of rows into the
pending-arrivals DataFrame the ingest stage consumes.

Also here, the request-construction helpers the fork's handlers rely on:

- ``build_url(url, params)`` — merge GET params into the query string
  (semantics of libs/url.py:29-59 ``_build_url``; re-implemented from
  the public urllib API);
- ``curl_to_arguments(cmd)`` — parse a browser-copied ``curl`` command
  into crawl kwargs (debug surface of libs/url.py:73-123; X8);
- ``time_limit`` — SIGALRM processing time limit
  (``process_time_limit``, libs/utils.py:164-215), usable around
  per-batch Python work inside pandas UDFs (Spark python workers run
  UDFs on the main thread; on non-main threads it degrades to a no-op,
  exactly like the reference).
"""

from __future__ import annotations

import math
import shlex
import signal
import threading
from urllib.parse import urlencode, urlparse, urlunparse


# --------------------------------------------------------------------------
# URL helpers
# --------------------------------------------------------------------------


def build_url(url: str, params: dict | None = None) -> str:
    """Merge GET ``params`` into ``url``'s query string (libs/url.py:29-59).

    The empty path becomes ``/`` and unicode hosts are IDNA-encoded, as
    the canonicalizer does; existing query keys are preserved and the
    new params appended (reference appends with ``&``).
    """
    scheme, netloc, path, parms, query, fragment = urlparse(url)
    try:
        netloc = netloc.encode("idna").decode("utf-8")
    except (UnicodeError, UnicodeDecodeError):
        pass
    if not path:
        path = "/"
    if params:
        # insertion order, matching reference _build_url (libs/url.py:29-59)
        # byte-for-byte — sorting would shift md5 taskids / dedup keys
        # for multi-param requests
        extra = urlencode(params)
        query = f"{query}&{extra}" if query else extra
    return urlunparse([scheme, netloc, path, parms, query, fragment])


def get_content_type(filename: str) -> str:
    """Guess a part's Content-Type from its filename (reference
    libs/url.py:16-18 get_content_type)."""
    import mimetypes

    return mimetypes.guess_type(filename)[0] or "application/octet-stream"


def encode_multipart_formdata(
    fields=None, files=None, boundary: str | None = None
) -> tuple[str, bytes]:
    """RFC 2388 multipart/form-data encoder (X9; reference libs/url.py:
    21-26 _encode_multipart_formdata, whose semantics come from
    requests' RequestEncodingMixin._encode_files — re-implemented here
    on the stdlib).  Returns ``(content_type, body_bytes)``.

    ``fields``: dict or (key, value) pairs of plain form fields;
    list/tuple values emit one part per element.  ``files``: dict of
    field name → content, where content is ``str | bytes`` (filename
    defaults to the field name), ``(filename, content)``,
    ``(filename, content, content_type)``, or
    ``(filename, content, content_type, extra_headers)``; when no
    content type is given it is guessed from the filename.
    ``boundary`` pins the delimiter for deterministic tests; the
    default is fresh entropy per call.

    Field names and filenames are quoted header parameters: ``"``, CR
    and LF in them are percent-encoded (``%22``, ``%0D``, ``%0A``, the
    HTML5 form-encoding rule RFC 7578 §4.2 cites), so no value can end
    the quoted string or start a header line.  A CR or LF in a
    Content-Type or extra header name/value raises ``ValueError``."""
    import secrets

    if boundary is None:
        boundary = secrets.token_hex(16)
    chunks: list[bytes] = []

    def _b(v) -> bytes:
        return v if isinstance(v, bytes) else str(v).encode("utf-8")

    def _q(v) -> str:
        return (
            str(v).replace('"', "%22").replace("\r", "%0D").replace("\n", "%0A")
        )

    def _hdr(name, value) -> str:
        if any(c in f"{name}{value}" for c in "\r\n"):
            raise ValueError(f"CR/LF in multipart part header {name!r}")
        return f"{name}: {value}"

    def _part(headers: list[str], content) -> None:
        chunks.append(b"--" + boundary.encode("ascii"))
        chunks.extend(h.encode("utf-8") for h in headers)
        chunks.append(b"")
        chunks.append(_b(content))

    items = fields.items() if isinstance(fields, dict) else list(fields or [])
    for key, val in items:
        for v in val if isinstance(val, (list, tuple)) else [val]:
            if v is None:
                continue
            _part([f'Content-Disposition: form-data; name="{_q(key)}"'], v)

    fitems = files.items() if isinstance(files, dict) else list(files or [])
    for key, val in fitems:
        extra_hdrs: list[str] = []
        if isinstance(val, (tuple, list)):
            if len(val) == 2:
                fn, content = val
                ctype = get_content_type(fn)
            elif len(val) == 3:
                fn, content, ctype = val
            else:
                fn, content, ctype, extra = val[:4]
                extra_hdrs = [_hdr(hk, hv) for hk, hv in (extra or {}).items()]
        else:
            fn, content, ctype = key, val, get_content_type(key)
        hdrs = [
            f'Content-Disposition: form-data; name="{_q(key)}"; filename="{_q(fn)}"'
        ]
        if ctype:
            hdrs.append(_hdr("Content-Type", ctype))
        hdrs.extend(extra_hdrs)
        _part(hdrs, content)

    chunks.append(b"--" + boundary.encode("ascii") + b"--")
    chunks.append(b"")
    return (
        f"multipart/form-data; boundary={boundary}",
        b"\r\n".join(chunks),
    )


def curl_to_arguments(cmd: str) -> dict:
    """Parse a browser-copied ``curl ...`` command line into crawl
    kwargs (X8; semantics of libs/url.py:73-123): urls, headers,
    method, data, use_gzip."""
    tokens = shlex.split(cmd)
    if not tokens or tokens[0] != "curl":
        raise ValueError("not a curl command")
    kwargs: dict = {}
    headers: dict = {}
    urls: list[str] = []
    i = 1
    while i < len(tokens):
        tok = tokens[i]
        if tok == "--compressed":
            kwargs["use_gzip"] = True
        elif tok in ("-H", "--header"):
            i += 1
            name, _, value = tokens[i].partition(":")
            if value:
                headers[name.strip()] = value.strip()
        elif tok in ("-d", "--data", "--data-binary"):
            i += 1
            data = tokens[i]
            if tok == "--data-binary" and data.startswith("$"):
                data = data[1:]
            kwargs["data"] = data
        elif tok in ("-X", "--request"):
            i += 1
            kwargs["method"] = tokens[i]
        elif tok.startswith("-"):
            raise ValueError(f"unsupported curl option: {tok}")
        else:
            urls.append(tok)
        i += 1
    if not urls:
        raise ValueError("curl: no URL specified")
    kwargs["urls"] = urls
    if headers:
        kwargs["headers"] = headers
    return kwargs


# --------------------------------------------------------------------------
# processing time limit (libs/utils.py:164-215)
# --------------------------------------------------------------------------


class ProcessTimeout(Exception):
    pass


class time_limit:
    """``with time_limit(3): ...`` raises ProcessTimeout after the
    wall-clock budget.  SIGALRM-based, so it only binds on the main
    thread (Spark python workers execute UDFs there); elsewhere it is a
    no-op — the reference degrades identically."""

    def __init__(self, seconds: float, message: str = "process timeout"):
        self.seconds = seconds
        self.message = message

    def _raise(self, signum, frame):
        raise ProcessTimeout(self.message)

    def __enter__(self):
        if threading.current_thread() is not threading.main_thread():
            self.seconds = 0
        if self.seconds:
            signal.signal(signal.SIGALRM, self._raise)
            signal.alarm(int(math.ceil(self.seconds)))
        return self

    def __exit__(self, *exc):
        if self.seconds:
            signal.alarm(0)
        return False


# --------------------------------------------------------------------------
# CrawlBuilder (libs/crawl_builder.py:5-320)
# --------------------------------------------------------------------------

SEED_COLUMNS = [
    "url", "project", "priority", "exetime", "callback", "save",
    "custom_taskid", "fetch",
]

# fetch-protocol kwargs that travel with the task (the reference task
# dict's `fetch` compartment — tornado_fetcher.py:232-301 consumes
# method/headers/cookies/data/proxy/user_agent/timeout per request)
FETCH_KEYS = (
    "method", "headers", "cookies", "data", "data_b64", "user_agent",
    "timeout", "proxy", "use_gzip", "validate_cert",
)


class CrawlBuilder:
    """Fluent builder for one crawl request row.

    Reference parity (libs/crawl_builder.py): schedule_* setters map to
    frontier schedule columns; set_save* to the JSON ``save`` payload;
    set_get_params* merge into the URL query (``build_url``);
    set_task_id to the custom dedup key (``get_taskid`` override,
    base_handler.py:340-342).  Fetch-protocol knobs that need a live
    HTTP fetcher (headers, cookies, proxy, POST bodies, phantomjs) are
    accepted and kept in ``kwargs`` for the ``fetch_mode='http'`` path
    to consume, but the sandbox pages-join fetch ignores them.
    """

    def __init__(self, url: str = ""):
        self._url = url
        self._params: dict = {}
        self._save: dict = {}
        self._kwargs: dict = {"age": 1}

    # -- fluent setters ----------------------------------------------------
    def set_url(self, url: str) -> "CrawlBuilder":
        self._url = url
        return self

    def set_get_params_kv(self, key, value) -> "CrawlBuilder":
        self._params[key] = value
        return self

    def set_get_params(self, params: dict) -> "CrawlBuilder":
        self._params = dict(params)
        return self

    def set_task_id(self, taskid: str) -> "CrawlBuilder":
        self._kwargs["taskid"] = taskid
        return self

    def set_save_kv(self, key, value) -> "CrawlBuilder":
        self._save[key] = value
        return self

    def set_save(self, save: dict) -> "CrawlBuilder":
        self._save = dict(save)
        return self

    def set_callback(self, callback: str) -> "CrawlBuilder":
        self._kwargs["callback"] = callback
        return self

    def schedule_priority(self, priority: int) -> "CrawlBuilder":
        self._kwargs["priority"] = int(priority)
        return self

    def schedule_retries(self, retries: int = 3) -> "CrawlBuilder":
        self._kwargs["retries"] = int(retries)
        return self

    def schedule_exetime(self, exetime: float) -> "CrawlBuilder":
        self._kwargs["exetime"] = float(exetime)
        return self

    def schedule_delay_second(self, seconds: float, now: float) -> "CrawlBuilder":
        """Reference uses wall-clock now; the engine is deterministic,
        so the caller supplies ``now`` (engine.now())."""
        return self.schedule_exetime(now + seconds)

    def schedule_age(self, age: int = 1) -> "CrawlBuilder":
        self._kwargs["age"] = int(age)
        return self

    def set_itag(self, itag: str) -> "CrawlBuilder":
        self._kwargs["itag"] = itag
        return self

    def set_auto_recrawl(self, flag: bool = True) -> "CrawlBuilder":
        self._kwargs["auto_recrawl"] = bool(flag)
        return self

    def set_force_update(self, flag: bool = True) -> "CrawlBuilder":
        self._kwargs["force_update"] = bool(flag)
        return self

    def set_files(self, files: dict) -> "CrawlBuilder":
        """Attach multipart upload parts (reference base_handler.py:
        283-294: ``files`` forces multipart/form-data encoding of
        ``data``+``files``; ``data`` must then be a dict of plain
        fields).  Encoding happens in ``to_row`` so later ``data``
        merges still land before the body is built."""
        self._kwargs["files"] = dict(files)
        return self

    def set_kwargs_kv(self, key, value) -> "CrawlBuilder":
        self._kwargs[key] = value
        return self

    def update_kwargs(self, kwargs: dict) -> "CrawlBuilder":
        for k, v in kwargs.items():
            if isinstance(v, dict) and isinstance(self._kwargs.get(k), dict):
                self._kwargs[k].update(v)
            else:
                self._kwargs[k] = v
        return self

    # -- accessors ---------------------------------------------------------
    def get_url(self) -> str:
        return build_url(self._url, self._params)

    def get_kwargs(self) -> dict:
        return dict(self._kwargs)

    def to_row(self, project: str = "bench") -> tuple:
        """One seed row in SEED_COLUMNS order for the engine's ingest.

        Body encoding mirrors reference base_handler.py:283-294:
        ``files`` ⇒ multipart/form-data (Content-Type header carries
        the boundary; the binary body rides the JSON fetch compartment
        base64-encoded — the JSON-transport analogue of the reference
        packing raw bytes into its task dict); a plain dict ``data`` ⇒
        urlencoded form body; any ``data`` defaults the method to POST
        (fetch_http enforces the same default fetcher-side)."""
        import base64
        import json

        k = dict(self._kwargs)
        if k.get("files"):
            data = k.pop("data", None) or {}
            assert isinstance(data, dict), (
                "data must be a dict when using with files!"
            )
            ctype, body = encode_multipart_formdata(data, k.pop("files"))
            hdrs = dict(k.get("headers") or {})
            hdrs["Content-Type"] = ctype
            k["headers"] = hdrs
            k["data_b64"] = base64.b64encode(body).decode("ascii")
            k.setdefault("method", "POST")
        elif isinstance(k.get("data"), dict):
            k["data"] = urlencode(k["data"])
            k.setdefault("method", "POST")
        fetch = {fk: k[fk] for fk in FETCH_KEYS if k.get(fk) is not None}
        return (
            self.get_url(),
            k.get("project", project),
            k.get("priority"),
            k.get("exetime"),
            k.get("callback", "index_page"),
            json.dumps(self._save, sort_keys=True) if self._save else None,
            k.get("taskid"),
            json.dumps(fetch, sort_keys=True) if fetch else None,
        )


def builders_to_df(spark, builders, project: str = "bench"):
    """Seed/enqueue DataFrame from a list of CrawlBuilders."""
    rows = [b.to_row(project) for b in builders]
    return spark.createDataFrame(
        rows,
        "url string, project string, priority int, exetime double,"
        " callback string, save string, custom_taskid string, fetch string",
    )


# --------------------------------------------------------------------------
# HandlerPage (libs/base_crawl.py:18-177 BaseCrawl)
# --------------------------------------------------------------------------


class HandlerPage:
    """Handler-page pattern: a page object that knows how to build its
    own crawl request and hand follow-ups/messages back to the engine.

    Subclass and override ``crawl_builder()`` (required) — the
    per-response ``parse_response`` hook of the reference is the
    declarative ``Callback`` spec in this engine (link/result emitters);
    override ``result_hook`` for driver-side post-commit actions.
    """

    project = "bench"

    def __init__(self):
        self._follows: list[CrawlBuilder] = []
        self._messages: list[tuple[str, str]] = []

    def crawl_builder(self) -> CrawlBuilder:
        raise NotImplementedError

    def crawl_handler_page(self, page: "HandlerPage") -> "HandlerPage":
        self._follows.append(page.crawl_builder())
        return self

    def send_message(self, project: str, msg: str) -> "HandlerPage":
        self._messages.append((project, msg))
        return self

    def enqueue(self, engine) -> None:
        """Queue this page (and any collected follows/messages) on the
        engine — the ``BaseCrawl.enqueue`` analogue."""
        builders = [self.crawl_builder()] + self._follows
        engine.enqueue(builders_to_df(engine.spark, builders, self.project))
        for proj, msg in self._messages:
            engine.send_message(proj, msg)
        self._follows, self._messages = [], []

    def result_hook(self, result_row) -> None:
        pass
