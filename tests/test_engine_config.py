"""Config-driven end-to-end tests (SURVEY §5.3): YAML -> multi-source
registration -> cross-source SQL, mirroring the reference binary loop
(reference src/main.rs:36-46).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from http_datafusion_spark.config import Config, load_config
from http_datafusion_spark.engine import run
from http_datafusion_spark.errors import ConfigError, IoError, QueryError

USERS = [{"id": i, "country": ["us", "de"][i % 2]} for i in range(1, 11)]
ORDERS = [{"oid": i, "uid": (i % 10) + 1, "amt": float(i)} for i in range(1, 51)]


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *args):
        pass

    def do_GET(self):  # noqa: N802
        from urllib.parse import parse_qs, urlparse

        u = urlparse(self.path)
        data = USERS if u.path.startswith("/users") else ORDERS
        q = parse_qs(u.query)
        if "page" in q:
            page = int(q["page"][0])
            size = int(q.get("limit", ["10"])[0])
            data = data[(page - 1) * size : page * size]
        body = json.dumps(data).encode()
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


def test_yaml_end_to_end(base_url, spark, tmp_path):
    cfg = tmp_path / "config.yaml"
    cfg.write_text(
        f"""
sources:
  - name: users
    url: {base_url}/users
  - name: orders
    url: {base_url}/orders
    sql: >
      SELECT u.country, count(*) AS n, round(sum(o.amt), 2) AS total
      FROM orders o JOIN users u ON o.uid = u.id
      GROUP BY u.country
"""
    )
    results = run(load_config(str(cfg)), spark=spark, show=False)
    assert results[0].result is None  # no sql on first source
    rows = {r.country: (r.n, r.total) for r in results[1].result.collect()}
    country_of = {u["id"]: u["country"] for u in USERS}
    for c in ("us", "de"):
        matching = [o for o in ORDERS if country_of[o["uid"]] == c]
        assert rows[c] == (len(matching), round(sum(o["amt"] for o in matching), 2))


def test_shared_session_across_sources(base_url, spark):
    # All sources share one catalog (reference src/main.rs:34) — the
    # second source's SQL can see the first source's table.
    cfg = Config.from_dict(
        {
            "sources": [
                {"name": "u2", "url": f"{base_url}/users"},
                {"name": "o2", "url": f"{base_url}/orders", "sql": "SELECT (SELECT count(*) FROM u2) AS nu, count(*) AS no FROM o2"},
            ]
        }
    )
    res = run(cfg, spark=spark, show=False)
    row = res[1].result.collect()[0]
    assert (row.nu, row.no) == (10, 50)


def test_run_via_datasource_parallel_path(base_url, spark):
    # Bounded pagination + via_datasource => the httpjson reader, its 5
    # pages in at most one contiguous range per core; results identical
    # to the driver path.
    cfg = Config.from_dict(
        {
            "sources": [
                {
                    "name": "o_ds",
                    "url": f"{base_url}/orders",
                    "pagination": {"start_page": 1, "end_page": 5, "page_size": 10},
                    "sql": "SELECT count(*) AS n, round(sum(amt), 2) AS total FROM o_ds",
                }
            ]
        }
    )
    res = run(cfg, spark=spark, show=False, via_datasource=True)
    assert res[0].table.rdd.getNumPartitions() == min(5, spark.sparkContext.defaultParallelism)
    row = res[0].result.collect()[0]
    assert (row.n, row.total) == (50, round(sum(o["amt"] for o in ORDERS), 2))


def test_bad_sql_raises_query_error(base_url, spark):
    cfg = Config.from_dict(
        {"sources": [{"name": "u3", "url": f"{base_url}/users", "sql": "SELECT nope FROM u3"}]}
    )
    with pytest.raises(QueryError):
        run(cfg, spark=spark, show=False)


def test_config_validation_errors(tmp_path):
    with pytest.raises(IoError):
        load_config(str(tmp_path / "missing.yaml"))
    with pytest.raises(ConfigError):
        Config.from_yaml("sources: [{url: http://x}]")  # missing name
    with pytest.raises(ConfigError):
        Config.from_yaml("no_sources: []")
    with pytest.raises(ConfigError):
        Config.from_yaml("sources: [{name: a, url: u, pagination: {bogus_key: 1}}]")


def test_configured_auth_header_reaches_every_paged_request(spark, monkeypatch):
    """Product-path header pass-through (r12 verdict task 7 e2e
    criterion): a YAML-configured Authorization header — secret via
    ${ENV} indirection only — must reach EVERY page request on BOTH
    execution paths (driver-loop and page-per-partition DataSource).
    The reference sends bare requests (src/datasources.rs:212-268), so
    this whole surface is a flagged extension."""
    import json as _json

    seen: list[tuple[str, str | None]] = []

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):  # noqa: N802
            from urllib.parse import parse_qs, urlparse

            u = urlparse(self.path)
            seen.append((u.query, self.headers.get("Authorization")))
            page = int(parse_qs(u.query).get("page", ["1"])[0])
            data = ORDERS[(page - 1) * 10 : page * 10]
            body = _json.dumps(data).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    monkeypatch.setenv("TEST_API_TOKEN", "tok-42")
    try:
        cfg = Config.from_dict(
            {
                "sources": [
                    {
                        "name": "authed_pages",
                        "url": f"http://127.0.0.1:{srv.server_port}/orders",
                        "pagination": {
                            "start_page": 1,
                            "end_page": 5,
                            "page_size": 10,
                        },
                        "headers": {"Authorization": "Bearer ${TEST_API_TOKEN}"},
                        "sql": "SELECT count(*) AS n FROM authed_pages",
                    }
                ]
            }
        )
        for via_ds in (False, True):
            seen.clear()
            res = run(cfg, spark=spark, show=False, via_datasource=via_ds)
            assert res[0].result.collect()[0].n == 50
            assert len(seen) >= 5, f"via_datasource={via_ds}: {seen}"
            assert all(auth == "Bearer tok-42" for _, auth in seen), (
                f"via_datasource={via_ds}: header missing on {seen}"
            )
    finally:
        srv.shutdown()
