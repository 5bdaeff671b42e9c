"""Adversarial end-to-end ingest: the HTTP/JSON
staging path gets the same depth as the relational surface — one
config-driven pass (mock server -> run() -> SQL -> show) exercising
every documented reference quirk from SURVEY §1:

1. empty-object placeholders vs typed scalars at the same key — a
   data-loss case (Spark's schema merge cancels the column without
   staging normalization);
2. late-appearing fields (absent from record 1 — the reference's
   first-record inference drops them, src/datasources.rs:318-343; we
   keep them);
3. int -> float type widening across pages (the reference errors at
   batch-read time, src/execution.rs:183-200; we widen);
4. pagination termination on ``[]`` past the last page (the reference
   loops forever, src/datasources.rs:139-142);
5. empty endpoint -> empty DataFrame (the reference panics on
   ``data.first().unwrap()``, src/datasources.rs:195);
plus ``null``-body termination (reference behavior, kept) and the
show-all sink path.
"""

from __future__ import annotations

import io
import json
import threading
from contextlib import redirect_stdout
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from http_datafusion_spark.config import Config
from http_datafusion_spark.engine import run, show_all

# Three pages of deliberately hostile rows. Every quirk class appears:
# - `meta` is {} on page 1, a typed struct later (quirk 1, nested);
# - `note` is '' on page 2 but {} on page 1 (quirk 1, scalar);
# - `late` first appears on page 2 (quirk 2);
# - `amt` is int on page 1, float on page 2 (quirk 3);
# - `tags` is [] on page 1, a real list later.
PAGES: dict[int, list[dict]] = {
    1: [
        {"id": 1, "amt": 10, "meta": {}, "note": {}, "tags": []},
        {"id": 2, "amt": 20, "meta": {}, "note": {}, "tags": []},
    ],
    2: [
        {"id": 3, "amt": 30.5, "meta": {"src": "api"}, "note": "", "late": "l3", "tags": ["a"]},
        {"id": 4, "amt": 40, "meta": {"src": "feed"}, "note": "n4", "late": "l4", "tags": ["b", "c"]},
    ],
    3: [
        {"id": 5, "amt": 50.25, "meta": {}, "note": "n5", "late": "l5", "tags": []},
    ],
}


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *args):
        pass

    def do_GET(self):  # noqa: N802
        from urllib.parse import parse_qs, urlparse

        u = urlparse(self.path)
        q = parse_qs(u.query)
        if u.path.startswith("/empty"):
            body = b"[]"
        elif u.path.startswith("/nullterm"):
            page = int(q.get("page", ["1"])[0])
            body = json.dumps(PAGES.get(page)).encode()  # None -> "null"
        else:  # /ragged: [] past the last page (quirk 4)
            page = int(q.get("page", ["1"])[0])
            body = json.dumps(PAGES.get(page, [])).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture(scope="module")
def base_url():
    srv = HTTPServer(("127.0.0.1", 0), _Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_hostile_pages_end_to_end(base_url, spark):
    cfg = Config.from_dict(
        {
            "sources": [
                # empty endpoint first: must register cleanly, not panic
                {"name": "empty_src", "url": f"{base_url}/empty"},
                {
                    "name": "ragged",
                    "url": f"{base_url}/ragged",
                    "pagination": {"start_page": 1, "page_size": 2},
                    "sql": (
                        "SELECT id, amt, note, late, meta.src AS msrc, size(tags) AS ntags "
                        "FROM ragged ORDER BY id"
                    ),
                },
            ]
        }
    )
    res = run(cfg, spark=spark, show=False)

    # quirk 5: empty endpoint -> empty DataFrame, no panic
    assert res[0].table.count() == 0

    out = res[1].result
    rows = {r.id: r for r in out.collect()}
    # quirk 4: the [] page stopped pagination — all 5 rows, no loop
    assert set(rows) == {1, 2, 3, 4, 5}
    # quirk 3: int/float widened to double, no batch-read error
    assert rows[1].amt == 10.0 and rows[3].amt == 30.5 and rows[5].amt == 50.25
    # quirk 2: late-only field survives (reference would drop it)
    assert rows[3].late == "l3" and rows[1].late is None
    # quirk 1 (scalar): {} placeholder did not cancel the '' value
    assert rows[3].note == "" and rows[4].note == "n4" and rows[1].note is None
    # quirk 1 (nested): {} placeholder did not cancel the struct field
    assert rows[3].msrc == "api" and rows[4].msrc == "feed" and rows[1].msrc is None
    # [] placeholder did not cancel the typed array
    assert rows[4].ntags == 2 and (rows[1].ntags or 0) == 0

    # sink parity: show_all renders NULLs and every row, one execution
    buf = io.StringIO()
    with redirect_stdout(buf):
        show_all(out)
    printed = buf.getvalue()
    assert printed.count("\n") >= 5 + 4  # 5 data rows + grid chrome
    assert "NULL" in printed and "l5" in printed


def test_null_terminated_pagination(base_url, spark):
    # the reference's own termination signal (JSON null body) still works
    cfg = Config.from_dict(
        {
            "sources": [
                {
                    "name": "nullterm",
                    "url": f"{base_url}/nullterm",
                    "pagination": {"start_page": 1, "page_size": 2},
                    "sql": "SELECT count(*) AS n, round(sum(amt), 2) AS total FROM nullterm",
                }
            ]
        }
    )
    res = run(cfg, spark=spark, show=False)
    row = res[0].result.collect()[0]
    assert (row.n, row.total) == (5, round(10 + 20 + 30.5 + 40 + 50.25, 2))
