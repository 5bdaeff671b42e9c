"""The request sequence of each pagination mode, end to end through the
config-driven product path (config.yaml -> ``engine.run_source``):
which URLs the walk asks for, in order, and where it stops — at
``end_page``, on an empty page, on a re-served cursor, on a looping Link
chain, and at a pushed-down LIMIT (``LIMIT 0`` included)."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from http_datafusion_spark.config import Source, load_config
from http_datafusion_spark.engine import run_source

PAGE = 10  # rows per page on every endpoint


def _rows(first: int) -> list[dict]:
    return [{"id": i} for i in range(first, first + PAGE)]


class _Handler(BaseHTTPRequestHandler):
    requests: list[str] = []  # path + query of every request, in order

    def log_message(self, *args):  # noqa: D102
        pass

    def _send(self, obj, link: str | None = None) -> None:
        body = json.dumps(obj).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        if link is not None:
            self.send_header("Link", link)
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):  # noqa: N802
        _Handler.requests.append(self.path)
        u = urlparse(self.path)
        q = parse_qs(u.query)
        kind, _, arg = u.path.strip("/").partition("/")
        if kind == "pages":
            # /pages/<n>?page=p&limit=m: n full pages, then [] past the end
            page, size = int(q["page"][0]), int(q["limit"][0])
            self._send([{"id": i} for i in range((page - 1) * size, page * size)] if page <= int(arg) else [])
        elif kind == "cursor":
            # tokens: none -> a -> b -> a again (a re-served token)
            off, nxt = {None: (0, "a"), "a": (PAGE, "b"), "b": (2 * PAGE, "a")}[q.get("cursor", [None])[0]]
            self._send({"data": _rows(off), "next_cursor": nxt})
        elif kind == "link":
            # relative next links p=1 -> 2 -> 3 -> 1 (a looping chain)
            p = int(q["p"][0])
            self._send(_rows((p - 1) * PAGE), link=f'<link?p={p % 3 + 1}>; rel="next"')
        else:
            self.send_error(404)


@pytest.fixture(scope="module")
def base_url():
    srv = HTTPServer(("127.0.0.1", 0), _Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


_PAGES3 = [f"/pages/3?page={p}&limit=10" for p in (1, 2, 3, 4)]

# (url path, the source's paging block, LIMIT or None, requests, staged rows)
CASES = {
    "page_end_page": ("/pages/3", {"pagination": {"end_page": 2}}, None, _PAGES3[:2], 20),
    "page_open_ended": ("/pages/3", {"pagination": {"end_page": None}}, None, _PAGES3, 30),
    "page_max_rows": ("/pages/3", {"pagination": {"end_page": None}}, 15, _PAGES3[:2], 20),
    "cursor_reserved_token": (
        "/cursor", {"cursor_pagination": {}}, None, ["/cursor", "/cursor?cursor=a", "/cursor?cursor=b"], 30
    ),
    "cursor_max_rows": ("/cursor", {"cursor_pagination": {}}, 15, ["/cursor", "/cursor?cursor=a"], 20),
    "link_loop": ("/link?p=1", {"link_pagination": {}}, None, ["/link?p=1", "/link?p=2", "/link?p=3"], 30),
    "link_max_rows": ("/link?p=1", {"link_pagination": {}}, 15, ["/link?p=1", "/link?p=2"], 20),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_each_mode_request_sequence(case, base_url, spark):
    path, paging, limit, want_requests, want_rows = CASES[case]
    name = f"seq_{case}"
    sql = f"SELECT id FROM {name} LIMIT {limit}" if limit else f"SELECT count(*) AS n FROM {name}"
    source = Source.from_dict({"name": name, "url": base_url + path, "sql": sql, **paging})
    _Handler.requests.clear()
    res = run_source(spark, source)
    assert _Handler.requests == want_requests
    assert res.table.count() == want_rows
    result = res.result.collect()
    if limit:
        assert len(result) == limit  # the engine applies the exact LIMIT
    else:
        assert result[0].n == want_rows


def test_end_page_null_is_open_ended(base_url, spark, tmp_path):
    """``end_page: null`` in config.yaml walks until the empty page, not
    to the default ``end_page`` of 10."""
    path = tmp_path / "open_ended.yaml"
    path.write_text(
        f"""
sources:
  - name: fifteen_pages
    url: {base_url}/pages/15
    pagination:
      end_page: null
    sql: SELECT count(*) AS n, max(id) AS m FROM fifteen_pages
"""
    )
    [source] = load_config(str(path)).sources
    assert source.pagination.end_page is None
    _Handler.requests.clear()
    row = run_source(spark, source).result.collect()[0]
    assert (row.n, row.m) == (15 * PAGE, 15 * PAGE - 1)
    assert len(_Handler.requests) == 16  # 15 pages + the empty page that ends the walk


@pytest.mark.parametrize("via_datasource", [False, True], ids=["driver", "httpjson"])
def test_limit_zero_fetches_one_page_and_keeps_columns(via_datasource, base_url, spark):
    """``LIMIT 0`` still fetches the first page, so the table has its
    columns; the engine applies the exact limit."""
    name = f"limit0_{'ds' if via_datasource else 'driver'}"
    source = Source.from_dict(
        {
            "name": name,
            "url": f"{base_url}/pages/3",
            "pagination": {"end_page": 3},
            "sql": f"SELECT id FROM {name} LIMIT 0",
        }
    )
    _Handler.requests.clear()
    result = run_source(spark, source, via_datasource=via_datasource).result
    assert result.collect() == []
    assert result.columns == ["id"]
    if via_datasource:
        # the schema probe reads page 1; the scan reads at most one page
        assert 1 <= len(_Handler.requests) <= 2
        assert set(_Handler.requests) == {_PAGES3[0]}
    else:
        assert _Handler.requests == [_PAGES3[0]]
