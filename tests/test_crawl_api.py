"""Fork-API sugar (§2.10 extras): CrawlBuilder / HandlerPage / enqueue,
build_url params merge, curl_to_arguments, process time limit, and the
result export helpers (S10).

Reference: libs/crawl_builder.py:5-320, libs/base_crawl.py:18-177,
libs/url.py:29-59 (_build_url) and :73-123 (curl_to_arguments),
libs/utils.py:164-215 (timeout), libs/result_dump.py:16-43.
"""

import time

import pytest
from pyspark.sql import functions as F

from crawler_pyspider_spark.engine import Callback, CrawlEngine, Handler
from crawler_pyspider_spark.functions.crawl_api import (
    CrawlBuilder,
    HandlerPage,
    ProcessTimeout,
    build_url,
    builders_to_df,
    curl_to_arguments,
    time_limit,
)


def test_build_url_merges_params():
    assert build_url("http://h.test/p?a=1", {"b": 2}) == "http://h.test/p?a=1&b=2"
    assert build_url("http://h.test", None) == "http://h.test/"
    assert build_url("http://h.test/p", {"x": "y z"}) == "http://h.test/p?x=y+z"
    # insertion order preserved (libs/url.py urlencode of caller dict),
    # NOT sorted — taskids depend on the exact byte sequence
    assert (
        build_url("http://h.test/p", {"z": 1, "a": 2})
        == "http://h.test/p?z=1&a=2"
    )


def test_curl_to_arguments():
    kw = curl_to_arguments(
        "curl 'http://x.test/a' -H 'Accept: text/html' -H 'X-K: v'"
        " --compressed -X POST -d 'q=1'"
    )
    assert kw["urls"] == ["http://x.test/a"]
    assert kw["headers"] == {"Accept": "text/html", "X-K": "v"}
    assert kw["method"] == "POST" and kw["data"] == "q=1"
    assert kw["use_gzip"] is True


def test_curl_to_arguments_rejects_bad_input():
    with pytest.raises(ValueError):
        curl_to_arguments("wget http://x.test")
    with pytest.raises(ValueError):
        curl_to_arguments("curl -H 'A: b'")  # no URL


def test_time_limit_raises_and_clears():
    with pytest.raises(ProcessTimeout):
        with time_limit(1):
            time.sleep(3)
    with time_limit(5):
        pass  # no alarm left armed
    time.sleep(0)


def test_crawl_builder_row():
    b = (
        CrawlBuilder("http://h.test/p")
        .set_get_params_kv("q", 1)
        .schedule_priority(5)
        .set_save_kv("k", "v")
        .set_task_id("T1")
        .set_callback("detail")
    )
    assert b.to_row() == (
        "http://h.test/p?q=1", "bench", 5, None, "detail", '{"k": "v"}', "T1",
        None,
    )
    assert b.get_kwargs()["age"] == 1  # reference default
    # fetch-protocol kwargs travel as the task's `fetch` JSON compartment
    b2 = CrawlBuilder("http://h.test/p").update_kwargs(
        {"method": "POST", "data": "a=1", "headers": {"X-K": "1"}}
    )
    import json

    fetch = json.loads(b2.to_row()[7])
    assert fetch == {"method": "POST", "data": "a=1", "headers": {"X-K": "1"}}


def test_encode_multipart_formdata():
    """X9 closure — multipart/form-data encoder parity with reference
    libs/url.py:21-26 (_encode_files semantics): fields first, then
    file parts with filename + guessed Content-Type, CRLF framing,
    trailing boundary; binary content passes through byte-exact."""
    from crawler_pyspider_spark.functions.crawl_api import (
        encode_multipart_formdata,
    )

    ct, body = encode_multipart_formdata(
        {"a": "1", "multi": ["x", "y"]},
        {
            "f": ("r.txt", b"hello"),
            "raw": b"\x00\xff\x01",  # filename defaults to field name
            "typed": ("d.bin", b"zz", "application/x-custom"),
        },
        boundary="BND",
    )
    assert ct == "multipart/form-data; boundary=BND"
    parts = body.split(b"--BND")
    assert parts[-1] == b"--\r\n" and body.endswith(b"--BND--\r\n")
    txt = body.decode("latin-1")
    assert 'Content-Disposition: form-data; name="a"\r\n\r\n1\r\n' in txt
    assert txt.count('name="multi"') == 2  # list value -> one part each
    assert (
        'name="f"; filename="r.txt"\r\nContent-Type: text/plain\r\n\r\nhello'
        in txt
    )
    assert b'name="raw"; filename="raw"' in body
    assert b"application/octet-stream\r\n\r\n\x00\xff\x01\r\n" in body
    assert "application/x-custom" in txt
    # fresh entropy per call when the boundary is not pinned
    ct1, _ = encode_multipart_formdata({"a": "1"}, None)
    ct2, _ = encode_multipart_formdata({"a": "1"}, None)
    assert ct1 != ct2


def test_encode_multipart_formdata_escapes_header_injection():
    """A field name or filename carrying a quote + CRLF cannot end its
    quoted parameter or start a header line: it is percent-encoded
    (HTML5 / RFC 7578 form encoding), so no injected header appears and
    the body keeps its part count.  CR/LF in an extra header name or
    value is rejected outright."""
    from crawler_pyspider_spark.functions.crawl_api import (
        encode_multipart_formdata,
    )

    evil = '"\r\nX-Injected: 1'
    _, body = encode_multipart_formdata(
        {evil: "v"}, {"f": (evil, b"data"), evil: ("ok.txt", b"x")},
        boundary="BND",
    )
    lines = body.split(b"\r\n")
    assert not any(line.startswith(b"X-Injected") for line in lines)
    assert b"%22%0D%0AX-Injected: 1" in body
    # preamble + 3 parts + closing "--\r\n"
    assert len(body.split(b"--BND")) == 5
    for hdrs in ({"X-A": "1\r\nX-Injected: 1"}, {"X-A\nX-Injected": "1"}):
        with pytest.raises(ValueError):
            encode_multipart_formdata(
                None, {"f": ("a.txt", b"x", "text/plain", hdrs)}
            )


def test_crawl_builder_files_encodes_multipart():
    """base_handler.py:283-294 parity: files ⇒ multipart body +
    Content-Type header with the boundary + POST default; dict data
    without files ⇒ urlencoded body."""
    import base64
    import json

    b = CrawlBuilder("http://h.test/up").set_files(
        {"doc": ("a.txt", b"payload")}
    ).set_kwargs_kv("data", {"k": "v"})
    fetch = json.loads(b.to_row()[7])
    assert fetch["method"] == "POST"
    ctype = fetch["headers"]["Content-Type"]
    assert ctype.startswith("multipart/form-data; boundary=")
    bnd = ctype.split("boundary=")[1]
    body = base64.b64decode(fetch["data_b64"])
    assert f"--{bnd}".encode() in body and b"payload" in body
    assert b'name="k"' in body and b'filename="a.txt"' in body
    # plain dict data (no files) urlencodes, reference _encode_params
    b2 = CrawlBuilder("http://h.test/p").set_kwargs_kv(
        "data", {"a": "1", "b": "two words"}
    )
    f2 = json.loads(b2.to_row()[7])
    assert f2["data"] == "a=1&b=two+words" and f2["method"] == "POST"


def test_handler_page_enqueue_end_to_end(spark, small_world, tmp_path):
    url = small_world["pages"].select("url").orderBy("url").first()["url"]

    class Page(HandlerPage):
        def crawl_builder(self):
            return (
                CrawlBuilder(url)
                .schedule_priority(3)
                .set_save_kv("src", "hp")
                .set_task_id("custom-1")
            )

    eng = CrawlEngine(
        spark,
        small_world["pages"],
        small_world["robots"],
        small_world["politeness"],
        str(tmp_path / "wh"),
        handler=Handler(callbacks={"index_page": Callback(emit_result=True)}),
        loop_limit=1000,
    )
    Page().enqueue(eng)
    m = eng.run_epoch()
    assert m["ingested"] == 1 and m["selected"] == 1
    row = eng.frontier.collect()[0]
    assert row.taskid == "custom-1"  # set_task_id -> custom dedup key
    assert row.priority == 3 and row.save == '{"src": "hp"}'


def test_result_dump_json_txt_csv(spark, small_world, tmp_path):
    from crawler_pyspider_spark.functions.result_dump import (
        common_result_fields,
        dump_as_csv,
        dump_as_json,
        dump_as_txt,
    )

    eng = CrawlEngine(
        spark,
        small_world["pages"],
        small_world["robots"],
        small_world["politeness"],
        str(tmp_path / "wh"),
        handler=Handler(callbacks={"index_page": Callback(emit_result=True)}),
        loop_limit=1000,
    )
    urls = [r.url for r in small_world["pages"].select("url").limit(3).collect()]
    eng.seed(spark.createDataFrame([(u,) for u in urls], "url string"))
    eng.run_epoch()
    res = eng.results_df()
    n = res.count()
    assert n >= 1
    # result JSON is {"url":..., "title":...} on every row
    assert common_result_fields(res) == ["title", "url"]
    dump_as_json(res, str(tmp_path / "out_json"))
    assert spark.read.json(str(tmp_path / "out_json")).count() == n
    dump_as_txt(res, str(tmp_path / "out_txt"))
    txt = spark.read.text(str(tmp_path / "out_txt"))
    assert txt.count() == n and txt.filter(~F.col("value").contains("\t")).count() == 0
    dump_as_csv(res, str(tmp_path / "out_csv"))
    csv = spark.read.option("header", True).csv(str(tmp_path / "out_csv"))
    assert csv.count() == n
    assert set(csv.columns) == {"url", "title", "r_url", "others"}
