"""Bespoke-layer parity tests (SURVEY §5.2): HTTP JSON ingestion
against an in-process mock server — object-vs-array bodies, pagination
termination (null AND []), empty results, GET/POST, error paths,
schema-inference modes.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from http_datafusion_spark.config import LinkPagination, Pagination, Source
from http_datafusion_spark.errors import ConfigError, HttpError
from http_datafusion_spark.sources.http_json import (
    fetch_json,
    fetch_rows,
    json_rows_to_df,
    register_http_table,
)

ROWS = [{"id": i, "name": f"row{i}", "score": i * 1.5} for i in range(1, 41)]


class _Handler(BaseHTTPRequestHandler):
    hit_counts: dict[str, int] = {}

    def log_message(self, *args):  # noqa: D102
        pass

    def _send(self, obj, code=200):
        body = json.dumps(obj).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):  # noqa: N802
        u = urlparse(self.path)
        _Handler.hit_counts[u.path] = _Handler.hit_counts.get(u.path, 0) + 1
        if u.path == "/flaky":
            if _Handler.hit_counts[u.path] <= 2:
                self._send({"err": "unavailable"}, code=503)
            else:
                self._send({"ok": True})
            return
        if u.path == "/retry_after":
            if _Handler.hit_counts[u.path] <= 2:
                body = json.dumps({"err": "rate limited"}).encode()
                self.send_response(429)
                self.send_header("Content-Type", "application/json")
                self.send_header("Retry-After", parse_qs(u.query).get("ra", ["0"])[0])
                self.end_headers()
                self.wfile.write(body)
            else:
                self._send({"ok": True})
            return
        if u.path == "/cursor":
            # Token pagination: 10 rows per page, next_cursor = opaque
            # "tok<offset>"; the final page carries next_cursor null.
            q2 = parse_qs(u.query)
            cur = q2.get("cursor", [None])[0]
            off = int(cur.removeprefix("tok")) if cur else 0
            chunk = ROWS[off : off + 10]
            nxt = f"tok{off + 10}" if off + 10 < len(ROWS) else None
            self._send({"data": chunk, "next_cursor": nxt})
            return
        if u.path == "/etag_resource":
            # versioned resource with ETag validators: ?v=2 flips the
            # content (and hence the validator); a matching
            # If-None-Match gets 304 with no body
            q2 = parse_qs(u.query)
            v = int(q2.get("v", ["1"])[0])
            tag = f'"v{v}"'
            if self.headers.get("If-None-Match") == tag:
                self.send_response(304)
                self.end_headers()
                return
            body = json.dumps([{"v": v, "id": i} for i in range(3)]).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("ETag", tag)
            self.send_header("Last-Modified", "Mon, 01 Jan 2024 00:00:00 GMT")
            self.end_headers()
            self.wfile.write(body)
            return
        if u.path == "/flaky_etag":
            # 503s on the first two hits, then behaves like
            # /etag_resource — exercises the shared retry loop under
            # the conditional-fetch path.
            if _Handler.hit_counts[u.path] <= 2:
                self._send({"err": "unavailable"}, code=503)
                return
            tag = '"fe1"'
            if self.headers.get("If-None-Match") == tag:
                self.send_response(304)
                self.end_headers()
                return
            body = json.dumps([{"id": 1}]).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("ETag", tag)
            self.end_headers()
            self.wfile.write(body)
            return
        if u.path == "/cursor_loop":
            # Buggy server: re-serves the SAME token forever.
            self._send({"data": ROWS[:10], "next_cursor": "tokX"})
            return
        if u.path == "/linked":
            # RFC 8288 Link-header pagination: 10 rows/page, 4 pages,
            # quoted rel with extra params, RELATIVE next URL on page 2
            # (resolution check), multi-valued rel on page 3, no Link
            # header on the last page.
            q2 = parse_qs(u.query)
            off = int(q2.get("off", ["0"])[0])
            chunk = ROWS[off : off + 10]
            body = json.dumps(chunk).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            nxt_off = off + 10
            if nxt_off < len(ROWS):
                if off == 10:
                    link = f'/linked?off={nxt_off}; rel=next'
                    link = f"<{link.split(';')[0]}>; rel=next"
                elif off == 20:
                    self.send_header(
                        "Link",
                        f'<first>; rel="first", <{self.path.split("?")[0]}'
                        f'?off={nxt_off}>; title="p"; rel="next last"',
                    )
                    link = None
                else:
                    link = f'<http://{self.headers["Host"]}/linked?off={nxt_off}>; rel="next"'
                if off != 20:
                    self.send_header("Link", link)
            self.end_headers()
            self.wfile.write(body)
            return
        if u.path == "/linked_loop":
            # Buggy server: every page links to ITSELF as next.
            body = json.dumps(ROWS[:10]).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Link", f'<{self.path}>; rel="next"')
            self.end_headers()
            self.wfile.write(body)
            return
        q = parse_qs(u.query)
        page = int(q.get("page", ["1"])[0])
        size = int(q.get("limit", [q.get("per", ["10"])[0]])[0])
        if u.path == "/rows":
            self._send(ROWS)
        elif u.path == "/paged_empty":  # [] past the end (reference loops forever here)
            self._send(ROWS[(page - 1) * size : page * size])
        elif u.path == "/paged_null":  # null past the end (reference behavior)
            chunk = ROWS[(page - 1) * size : page * size]
            self._send(chunk if chunk else None)
        elif u.path == "/object":
            self._send({"id": 1, "nested": {"a": 2, "tags": ["x", "y"]}})
        elif u.path == "/empty":
            self._send([])
        elif u.path == "/ragged":
            self._send([{"a": 1}, {"a": 2, "b": "late-field"}])
        elif u.path == "/lone_surrogate":  # body text carries the escape \ud800
            self._send([{"a": "x\ud800y", "b": 1}])
        elif u.path == "/error":
            self._send({"boom": True}, code=500)
        else:
            self._send({"err": "nf"}, code=404)

    def do_POST(self):  # noqa: N802
        self.do_GET()


@pytest.fixture(scope="module")
def base_url():
    srv = HTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_array_body(base_url):
    assert fetch_rows(f"{base_url}/rows") == ROWS


def test_object_body_single_row(base_url):
    rows = fetch_rows(f"{base_url}/object")
    assert len(rows) == 1 and rows[0]["nested"]["tags"] == ["x", "y"]


def test_pagination_terminates_on_empty_array(base_url):
    rows = fetch_rows(f"{base_url}/paged_empty", paging=Pagination(page_size=10, end_page=None))
    assert rows == ROWS


def test_pagination_terminates_on_null(base_url):
    rows = fetch_rows(f"{base_url}/paged_null", paging=Pagination(page_size=10, end_page=None))
    assert rows == ROWS


def test_pagination_honors_end_page(base_url):
    rows = fetch_rows(f"{base_url}/paged_empty", paging=Pagination(page_size=10, end_page=2))
    assert rows == ROWS[:20]


def test_pagination_custom_params(base_url):
    pag = Pagination(page_size=5, page_param="page", page_size_param="per", end_page=None)
    rows = fetch_rows(f"{base_url}/paged_empty", paging=pag)
    assert rows == ROWS


def test_empty_result_no_panic(base_url, spark):
    # Reference panics on empty first fetch (src/datasources.rs:195).
    df = register_http_table(spark, f"{base_url}/empty", table_name="t_empty")
    assert df.count() == 0


def test_http_error_status(base_url):
    with pytest.raises(HttpError, match="500"):
        fetch_json(f"{base_url}/error", retries=1, backoff=0.01)
    with pytest.raises(HttpError, match="404"):
        fetch_json(f"{base_url}/missing")


def test_transient_500_retries_then_succeeds(base_url):
    # /flaky fails twice with 503 then serves; retry logic must recover.
    assert fetch_json(f"{base_url}/flaky", retries=3, backoff=0.01) == {"ok": True}


def test_client_error_does_not_retry(base_url):
    # 404 is non-retryable: exactly one request reaches the server.
    before = _Handler.hit_counts.get("/missing_once", 0)
    with pytest.raises(HttpError, match="404"):
        fetch_json(f"{base_url}/missing_once", retries=3, backoff=0.01)
    assert _Handler.hit_counts["/missing_once"] == before + 1


def test_method_gate():
    # Only GET/POST, mirroring reference src/datasources.rs:217-223.
    with pytest.raises(HttpError, match="No Method Available"):
        fetch_json("http://127.0.0.1:1/x", method="DELETE")
    with pytest.raises(ConfigError):
        Source(name="s", url="http://x", method="PUT")


def test_post_supported(base_url):
    assert fetch_rows(f"{base_url}/rows", method="POST") == ROWS


def test_lone_surrogate_escape_stages(base_url, spark):
    # JSON allows a lone surrogate escape; UTF-8 cannot carry the decoded
    # character, so staging must not hand it to the JVM verbatim.
    df = register_http_table(spark, f"{base_url}/lone_surrogate", table_name="t_surrogate")
    [row] = df.collect()
    assert (row.a, row.b) == ("x?y", 1)


def test_staged_table_runs_no_python_worker(base_url, spark):
    # Inference, parsing and the cache build run in the JVM: no PythonRDD
    # anywhere in the staged table's lineage.
    df = register_http_table(spark, f"{base_url}/rows", table_name="t_jvm_lineage")
    lineage = df._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage
    assert df.count() == len(ROWS)
    # Inference scans every row: a field first seen on row 2 keeps its
    # column (the reference infers from row 1 alone).
    ragged = json_rows_to_df(spark, fetch_rows(f"{base_url}/ragged"))
    assert sorted(ragged.columns) == ["a", "b"]


def test_register_and_query(base_url, spark):
    register_http_table(spark, f"{base_url}/rows", table_name="t_rows")
    out = spark.sql("SELECT count(*) AS n, round(sum(score), 2) AS s FROM t_rows").collect()[0]
    assert out.n == 40 and out.s == round(sum(r["score"] for r in ROWS), 2)


def test_auth_headers_and_post_body(spark):
    """Beyond-reference ingest: auth headers reach the request; a POST
    body is serialized as JSON (the reference sends neither,
    src/datasources.rs:212-268)."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    seen = {}

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):  # noqa: N802
            seen["auth"] = self.headers.get("Authorization")
            n = int(self.headers.get("Content-Length", 0))
            seen["body"] = json.loads(self.rfile.read(n)) if n else None
            out = json.dumps([{"id": 1}, {"id": 2}]).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(out)

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        from http_datafusion_spark.sources.http_json import register_http_table

        df = register_http_table(
            spark,
            url=f"http://127.0.0.1:{srv.server_port}/q",
            method="POST",
            table_name="authed",
            headers={"Authorization": "Bearer tok123"},
            json_body={"filter": {"active": True}},
        )
        assert df.count() == 2
        assert seen["auth"] == "Bearer tok123"
        assert seen["body"] == {"filter": {"active": True}}
    finally:
        srv.shutdown()


def test_config_header_env_expansion(monkeypatch):
    from http_datafusion_spark.config import Config
    from http_datafusion_spark.errors import ConfigError

    monkeypatch.setenv("API_TOKEN", "s3cret")
    cfg = Config.from_dict(
        {
            "sources": [
                {
                    "name": "s",
                    "url": "http://x/",
                    "headers": {"Authorization": "Bearer ${API_TOKEN}"},
                }
            ]
        }
    )
    assert cfg.sources[0].headers == {"Authorization": "Bearer s3cret"}

    import pytest

    monkeypatch.delenv("MISSING_TOKEN", raising=False)
    with pytest.raises(ConfigError, match="MISSING_TOKEN"):
        Config.from_dict(
            {
                "sources": [
                    {"name": "s", "url": "http://x/", "headers": {"A": "${MISSING_TOKEN}"}}
                ]
            }
        )


def test_config_body_requires_post():
    import pytest

    from http_datafusion_spark.config import Config
    from http_datafusion_spark.errors import ConfigError

    with pytest.raises(ConfigError, match="POST"):
        Config.from_dict(
            {"sources": [{"name": "s", "url": "http://x/", "body": {"a": 1}}]}
        )


def test_kafka_source_gated(spark):
    import pytest

    from http_datafusion_spark.errors import EngineError
    from http_datafusion_spark.streaming.kafka import kafka_available, read_events_kafka

    if kafka_available(spark):
        pytest.skip("kafka connector present; gate not exercisable")
    with pytest.raises(EngineError, match="Kafka connector"):
        read_events_kafka(spark, "localhost:9092", "events")


# ------------------------- cursor pagination + Retry-After


def test_cursor_pagination_drains_endpoint(base_url):
    from http_datafusion_spark.config import CursorPagination

    _Handler.hit_counts.pop("/cursor", None)
    rows = fetch_rows(f"{base_url}/cursor", paging=CursorPagination())
    assert rows == ROWS
    assert _Handler.hit_counts["/cursor"] == 4  # 40 rows / 10 per page


def test_cursor_pagination_max_rows_stops_fetching(base_url):
    from http_datafusion_spark.config import CursorPagination

    _Handler.hit_counts.pop("/cursor", None)
    rows = fetch_rows(f"{base_url}/cursor", paging=CursorPagination(), max_rows=15)
    # Limit pushdown contract (same for every mode): stop FETCHING once
    # max_rows staged, never trim — the engine applies the exact LIMIT.
    assert rows == ROWS[:20]
    assert _Handler.hit_counts["/cursor"] == 2


def test_cursor_pagination_stops_on_reserved_token(base_url):
    from http_datafusion_spark.config import CursorPagination

    _Handler.hit_counts.pop("/cursor_loop", None)
    rows = fetch_rows(f"{base_url}/cursor_loop", paging=CursorPagination())
    # The same token twice = server bug; the walk stops after the second
    # page (first page: no cursor; second: tokX; third would repeat tokX).
    assert rows == ROWS[:10] + ROWS[:10]
    assert _Handler.hit_counts["/cursor_loop"] == 2


@pytest.mark.parametrize("retry_after", ["0", "-1", "nan"])
def test_retry_after_header_is_honored(base_url, retry_after):
    import time

    from http_datafusion_spark.sources.http_json import fetch_json

    _Handler.hit_counts.pop("/retry_after", None)
    t0 = time.time()
    # backoff=5.0 would sleep 5+10 s if Retry-After: 0 were ignored;
    # honoring it makes the two retries immediate. -1 and nan are not
    # delays: those retries fall back to the (small) backoff.
    backoff = 5.0 if retry_after == "0" else 0.05
    body = fetch_json(f"{base_url}/retry_after?ra={retry_after}", retries=3, backoff=backoff)
    assert body == {"ok": True}
    assert _Handler.hit_counts["/retry_after"] == 3
    assert time.time() - t0 < 4.0


def test_cursor_config_roundtrip_and_exclusivity():
    import pytest as _pytest

    from http_datafusion_spark.config import ConfigError, Source

    s = Source.from_dict(
        {
            "name": "s",
            "url": "http://x/api",
            "cursor_pagination": {"cursor_field": "next", "page_size": 25},
        }
    )
    assert s.cursor_pagination.cursor_field == "next"
    assert s.cursor_pagination.page_size == 25
    assert s.cursor_pagination.max_pages == 1000
    with _pytest.raises(ConfigError, match="mutually exclusive"):
        Source.from_dict(
            {
                "name": "s",
                "url": "http://x/api",
                "pagination": {"page_size": 10},
                "cursor_pagination": {},
            }
        )
    with _pytest.raises(ConfigError, match="unknown cursor_pagination keys"):
        Source.from_dict(
            {"name": "s", "url": "http://x/api", "cursor_pagination": {"nope": 1}}
        )


def test_register_http_table_via_cursor(spark, base_url):
    from http_datafusion_spark.config import CursorPagination
    from http_datafusion_spark.sources.http_json import register_http_table

    register_http_table(
        spark,
        f"{base_url}/cursor",
        table_name="cursor_rows",
        paging=CursorPagination(),
    )
    got = spark.sql("SELECT count(*) AS n, sum(id) AS s FROM cursor_rows").collect()[0]
    assert got.n == len(ROWS) and got.s == sum(r["id"] for r in ROWS)


def test_conditional_fetch_304_reuses_validators(base_url):
    """RFC 9110 preconditions: first fetch returns the body + ETag; a
    re-fetch presenting that ETag gets 304 (no body, validators kept);
    a changed resource returns the new body + new ETag."""
    from http_datafusion_spark.sources.http_json import fetch_json_conditional

    base = base_url
    body, etag, lm, nm = fetch_json_conditional(f"{base}/etag_resource")
    assert not nm and isinstance(body, list) and etag == '"v1"'

    body2, etag2, lm2, nm2 = fetch_json_conditional(f"{base}/etag_resource", etag=etag)
    assert nm2 and body2 is None and etag2 == '"v1"'

    body3, etag3, _, nm3 = fetch_json_conditional(
        f"{base}/etag_resource?v=2", etag=etag
    )
    assert not nm3 and etag3 == '"v2"' and body3 and body3[0]["v"] == 2


def test_conditional_fetch_retries_transient_503(base_url):
    """A transient 503 during a conditional refresh retries through the
    shared backoff loop instead of raising, and the
    304 short-circuit still works once the server recovers."""
    from http_datafusion_spark.sources.http_json import fetch_json_conditional

    _Handler.hit_counts.pop("/flaky_etag", None)
    body, etag, _, nm = fetch_json_conditional(f"{base_url}/flaky_etag")
    assert not nm and body == [{"id": 1}] and etag == '"fe1"'
    assert _Handler.hit_counts["/flaky_etag"] == 3  # two 503s + one 200
    _, _, _, nm2 = fetch_json_conditional(f"{base_url}/flaky_etag", etag=etag)
    assert nm2


def test_refresh_http_table_cycle(spark, base_url):
    """Full re-ingest cycle: register -> 304
    refresh leaves the staged table byte-identical (same validators,
    refreshed=False) -> changed resource (200) replaces the view and
    rotates the validators."""
    from http_datafusion_spark.sources.http_json import (
        refresh_http_table,
        register_http_table,
    )

    url = f"{base_url}/etag_resource"
    register_http_table(spark, url, table_name="cond_tbl")
    before = spark.table("cond_tbl").orderBy("id").collect()
    assert [r.v for r in before] == [1, 1, 1]

    # First refresh has no validators yet: unconditional 200, but the
    # content is identical; we learn the ETag for the next cycle.
    etag, lm, refreshed = refresh_http_table(spark, url, "cond_tbl")
    assert refreshed and etag == '"v1"'

    # Second refresh presents the validator: 304, table untouched.
    etag2, lm2, refreshed2 = refresh_http_table(
        spark, url, "cond_tbl", etag=etag, last_modified=lm
    )
    assert not refreshed2 and etag2 == '"v1"' and lm2 == lm
    assert spark.table("cond_tbl").orderBy("id").collect() == before

    # Resource changes (?v=2 flips content + validator): 200 replaces.
    etag3, _, refreshed3 = refresh_http_table(
        spark, f"{url}?v=2", "cond_tbl", etag=etag
    )
    assert refreshed3 and etag3 == '"v2"'
    assert [r.v for r in spark.table("cond_tbl").orderBy("id").collect()] == [2, 2, 2]


def test_conditional_fetch_method_gate_and_errors(base_url):
    from http_datafusion_spark.errors import HttpError
    from http_datafusion_spark.sources.http_json import fetch_json_conditional

    with pytest.raises(HttpError, match="No Method Available"):
        fetch_json_conditional(f"{base_url}/etag_resource", method="DELETE")
    with pytest.raises(HttpError, match="404"):
        fetch_json_conditional(f"{base_url}/nope_404")


# ------------------------------------------- Link-header pagination


def test_link_pagination_walks_all_pages(base_url):
    """Absolute, relative, and multi-valued-rel next links across 4
    pages; the last page carries no Link header."""
    rows = fetch_rows(f"{base_url}/linked", paging=LinkPagination())
    assert [r["id"] for r in rows] == [r["id"] for r in ROWS]


def test_link_pagination_max_rows_pushdown(base_url):
    rows = fetch_rows(f"{base_url}/linked", paging=LinkPagination(), max_rows=15)
    # stops FETCHING once >= 15 rows staged (page granularity, every mode)
    assert len(rows) == 20


def test_link_pagination_self_loop_stops(base_url):
    rows = fetch_rows(f"{base_url}/linked_loop", paging=LinkPagination())
    assert len(rows) == 10  # one page, then the self-link is refused


def test_parse_link_next_forms():
    from http_datafusion_spark.sources.http_json import parse_link_next

    assert parse_link_next(None) is None
    assert parse_link_next('<http://x/p?page=2>; rel="next"') == "http://x/p?page=2"
    assert parse_link_next("<u>; rel=next") == "u"
    assert (
        parse_link_next('<a>; rel="prev", <b>; title="t"; rel="next last"') == "b"
    )
    assert parse_link_next('<a>; rel="prev", <b>; rel="last"') is None
    # rel token must be 'next', not merely prefixed with it
    assert parse_link_next('<c>; rel="nexting"') is None
    # RFC 3986 allows a bare ',' (sub-delim) inside the target URL —
    # the list split must not break the link-value apart
    assert (
        parse_link_next('</items?ids=1,2,3&page=2>; rel="next"')
        == "/items?ids=1,2,3&page=2"
    )
    assert (
        parse_link_next('<a?x=9,9>; rel="prev", <b?ids=1,2>; rel="next"')
        == "b?ids=1,2"
    )
    # a comma inside a quoted param value is not a list delimiter either
    assert parse_link_next('<a>; title="p, q"; rel="next"') == "a"
    # the param NAME must be exactly 'rel' — an extension param whose
    # name merely starts with 'rel' and whose value contains the token
    # 'next' must not be misread as the relation list
    assert parse_link_next('<d>; relation="next"') is None
    assert parse_link_next('<d>; relation="next", <e>; rel="next"') == "e"
    # a ';' inside a quoted param value is not a param delimiter: a
    # bare split tears '"x;rel=next"' into a fragment that reads as a
    # rel param and returns the WRONG (rel=prev) link
    assert (
        parse_link_next('<u1>; title="x;rel=next"; rel="prev", <u2>; rel="next"')
        == "u2"
    )
    # an unterminated '<' must not absorb a later well-formed link-value
    # into a garbage target
    assert parse_link_next('<broken, <b>; rel="next"') == "b"
    assert parse_link_next("<never-closed, nothing-else") is None


def test_link_pagination_config_e2e(base_url, spark):
    """YAML-config product path with link_pagination: the registered
    view holds all 4 linked pages' rows."""
    from http_datafusion_spark.config import Source
    from http_datafusion_spark.engine import run_source

    src = Source.from_dict(
        {
            "name": "linked_rows",
            "url": f"{base_url}/linked",
            "link_pagination": {"max_pages": 100},
            "sql": "SELECT count(*) AS n, sum(id) AS id_sum FROM linked_rows",
        }
    )
    res = run_source(spark, src)
    row = res.result.collect()[0]
    assert row.n == len(ROWS)
    assert row.id_sum == sum(r["id"] for r in ROWS)


def test_link_pagination_mutually_exclusive():
    from http_datafusion_spark.config import Source

    with pytest.raises(ConfigError, match="mutually"):
        Source.from_dict(
            {
                "name": "x",
                "url": "http://x/",
                "pagination": {"start_page": 1},
                "link_pagination": {},
            }
        )
    with pytest.raises(ConfigError, match="unknown link_pagination"):
        Source.from_dict(
            {"name": "x", "url": "http://x/", "link_pagination": {"bogus": 1}}
        )


def test_three_pagination_modes_one_config(base_url, spark, tmp_path):
    """Capstone product-path test: one YAML config registers a
    page-number source, a cursor source, and a Link-header source, then
    joins all three in the last source's sql — every pagination mode
    the engine speaks, exercised through run_config in one shot."""
    import json as _json

    from http_datafusion_spark.engine import run_config

    cfg = f"""
sources:
  - name: paged
    url: {base_url}/paged_empty
    pagination:
      start_page: 1
      page_size: 10
  - name: tokened
    url: {base_url}/cursor
    cursor_pagination:
      cursor_param: cursor
      cursor_field: next_cursor
      data_field: data
  - name: linked
    url: {base_url}/linked
    link_pagination:
      max_pages: 50
    sql: >
      SELECT count(*) AS n_joined
      FROM paged p
      JOIN tokened t ON p.id = t.id
      JOIN linked l ON t.id = l.id
"""
    path = tmp_path / "three_modes.yaml"
    path.write_text(cfg)
    results = run_config(str(path), spark=spark, show=False)
    by_name = {r.source.name: r for r in results}
    for name in ("paged", "tokened", "linked"):
        assert by_name[name].table.count() == len(ROWS)
    assert by_name["linked"].result.collect()[0].n_joined == len(ROWS)
