"""Seeded JSON sources and the in-process HTTP server that serves them.

Each source is a paginated endpoint: ``?page=N&limit=M`` (the engine's
default ``Pagination`` params), and every page that has a successor
also names it in an RFC 8288 ``Link: <...>; rel="next"`` header, so a
source can be declared with page numbers or as a Link walk. Rows are
ragged on purpose, the way real APIs are: optional keys, ``{}``
placeholders for an absent object, nested lists of varying length
(sometimes empty), and a ``score`` column that mixes JSON integers and
floats. The server
pre-renders every page, answers a seeded ~5% of pages with ``429`` +
``Retry-After: 0`` on every first try (the client's retry then gets
the page), and serves at most ``max_conns`` connections at once.

The benchmark computes each source's expected answer from the rows it
serves (``Source.expected``), so a result is checked without trusting
the engine.
"""

from __future__ import annotations

import json
import random
import threading
import time
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

USERS = [f"user{i:03d}" for i in range(200)]
TAGS = ["red", "green", "blue", "fast", "slow", "new", "old"]


@dataclass
class Source:
    name: str
    rows: list[dict]
    page_size: int
    link: bool  # declared as a Link-header walk instead of a page range
    via_datasource: bool
    limit: int | None  # SELECT ... LIMIT n (limit pushdown) instead of an aggregate
    throttled: set[int] = field(default_factory=set)  # pages answered 429 first

    @property
    def pages(self) -> int:
        return -(-len(self.rows) // self.page_size)

    @property
    def sql(self) -> str:
        if self.limit is not None:
            return f"SELECT id, user, score FROM {self.name} LIMIT {self.limit}"
        return (
            f"SELECT count(*) AS n, sum(score) AS s, count(DISTINCT user) AS u, "
            f"max(id) AS m FROM {self.name}"
        )

    def config(self, base_url: str) -> dict:
        url = f"{base_url}/{self.name}"
        if self.link:
            return {"name": self.name, "url": f"{url}?page=1&limit={self.page_size}",
                    "link_pagination": {}, "sql": self.sql}
        pag = {"start_page": 1, "end_page": self.pages, "page_size": self.page_size}
        return {"name": self.name, "url": url, "pagination": pag, "sql": self.sql}

    def expected(self) -> tuple:
        """The answer the source's SQL must give, from the served rows:
        ``(rows, ids)`` for a LIMIT source, else ``(n, sum, users, max_id)``."""
        if self.limit is not None:
            return (min(self.limit, len(self.rows)), {r["id"] for r in self.rows})
        return (
            len(self.rows),
            sum(r["score"] for r in self.rows),
            len({r["user"] for r in self.rows}),
            max(r["id"] for r in self.rows),
        )

    def check(self, result_rows: list[dict], exp: tuple) -> str | None:
        """None when the SQL result matches ``exp`` (from ``expected``),
        else a one-line description of the mismatch."""
        if self.limit is not None:
            n, ids = exp
            got = [r["id"] for r in result_rows]
            if len(got) != n or not set(got) <= ids:
                return f"LIMIT result: {len(got)} rows (want {n}) or ids not served"
            return None
        if len(result_rows) != 1:
            return f"aggregate returned {len(result_rows)} rows"
        row = result_rows[0]
        n, s, u, m = exp
        if (row["n"], row["u"], row["m"]) != (n, u, m) or abs(row["s"] - s) > 1e-6 * max(1.0, abs(s)):
            return f"aggregate {row} != served {(n, s, u, m)}"
        return None


def _row(rng: random.Random, i: int) -> dict:
    r: dict = {"id": i, "user": rng.choice(USERS)}
    # Integers and floats in one column; both parse paths must widen.
    r["score"] = rng.randint(0, 1000) if rng.random() < 0.5 else round(rng.uniform(0, 1000), 3)
    r["tags"] = rng.sample(TAGS, rng.randint(0, 3))
    r["meta"] = {} if rng.random() < 0.2 else {"k": rng.randint(0, 9), "ok": rng.random() < 0.5}
    if rng.random() < 0.3:
        r["note"] = f"n{rng.randint(0, 99)}"
    return r


def make_sources(seed: int, levels: int, lo: float, hi: float) -> list[Source]:
    """One source per ingest path at each size level, except that the
    middle level has only a driver-path ``LIMIT`` source (limit pushdown)
    declared as a Link walk; the others run an aggregate over page
    ranges. The odd source count puts the median inside one source's
    latencies, not between two. Sizes are log-spaced over ``[lo, hi]``
    rows with a seeded +-5% jitter, so the size mix is nearly the same
    for every seed; rows and throttled pages vary with the seed."""
    rng = random.Random(seed)
    sources = []
    for level in range(levels):
        size = lo * (hi / lo) ** (level / max(1, levels - 1))
        middle = level == levels // 2
        for ds in (False,) if middle else (False, True):
            n = int(size * rng.uniform(0.95, 1.05))
            first = rng.randrange(10**6)
            rows = [_row(rng, first + j) for j in range(n)]
            # The parallel reader infers its schema from page 1, so page 1
            # carries every key with its widest type, as a real API's
            # documented example row would.
            rows[0].update(score=0.5, meta={"k": 0, "ok": True}, note="n0", tags=["red"])
            src = Source(
                name=f"src{len(sources)}",
                rows=rows,
                page_size=1000,
                link=middle,
                via_datasource=ds,
                limit=300 if middle else None,
            )
            src.throttled = {p for p in range(1, src.pages + 1) if rng.random() < 0.05}
            sources.append(src)
    return sources


class Stats:
    """Server-side request counters, shared by the handler threads."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.requests = 0
        self.throttled = 0
        self.bytes = 0
        self.retry_wait_s = 0.0
        self.pages = 0  # non-empty pages served

    def snapshot(self) -> dict:
        with self.lock:
            return {
                "requests": self.requests,
                "retries": self.throttled,
                "bytes": self.bytes,
                "retry_wait_s": self.retry_wait_s,
                "pages": self.pages,
            }


class PageServer(ThreadingHTTPServer):
    """Serves pre-rendered pages of ``sources`` on 127.0.0.1; at most
    ``max_conns`` requests are handled at once, the rest wait in the
    listen backlog."""

    daemon_threads = True

    def __init__(self, sources: list[Source], max_conns: int) -> None:
        self.stats = Stats()
        self._slots = threading.BoundedSemaphore(max_conns)
        self._pages: dict[tuple[str, int], bytes] = {}
        self._last = {s.name: s.pages for s in sources}
        self._throttled: dict[tuple[str, int], float | None] = {}
        for s in sources:
            for p in range(1, s.pages + 1):
                chunk = s.rows[(p - 1) * s.page_size : p * s.page_size]
                self._pages[(s.name, p)] = json.dumps(chunk).encode()
                if p in s.throttled:
                    self._throttled[(s.name, p)] = None
        super().__init__(("127.0.0.1", 0), _Handler)
        self._thread = threading.Thread(target=self.serve_forever, name="page-server", daemon=True)

    @property
    def base_url(self) -> str:
        return f"http://127.0.0.1:{self.server_address[1]}"

    def __enter__(self) -> PageServer:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.shutdown()
        self.server_close()
        self._thread.join()

    def process_request(self, request, client_address) -> None:
        self._slots.acquire()
        super().process_request(request, client_address)

    def process_request_thread(self, request, client_address) -> None:
        try:
            super().process_request_thread(request, client_address)
        finally:
            self._slots.release()

    def has_next(self, name: str, page: int) -> bool:
        return page < self._last.get(name, 0)

    def respond(self, name: str, page: int) -> tuple[int, bytes]:
        key = (name, page)
        now = time.perf_counter()
        with self.stats.lock:
            self.stats.requests += 1
            if key in self._throttled:
                refused_at = self._throttled[key]
                if refused_at is None:
                    self._throttled[key] = now
                    self.stats.throttled += 1
                    return 429, b""
                self._throttled[key] = None  # the next fetch is refused again
                self.stats.retry_wait_s += now - refused_at
            body = self._pages.get(key, b"[]")
            self.stats.bytes += len(body)
            if key in self._pages:
                self.stats.pages += 1
            return 200, body


class _Handler(BaseHTTPRequestHandler):
    server: PageServer

    def do_GET(self) -> None:  # noqa: N802 — http.server hook
        url = urlparse(self.path)
        query = parse_qs(url.query)
        name, page = url.path.strip("/"), int(query.get("page", ["1"])[0])
        status, body = self.server.respond(name, page)
        self.send_response(status)
        if status == 429:
            self.send_header("Retry-After", "0")
        elif self.server.has_next(name, page):
            limit = query.get("limit", ["10"])[0]
            self.send_header("Link", f'</{name}?page={page + 1}&limit={limit}>; rel="next"')
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, format, *args) -> None:  # noqa: A002 — silence access log
        pass
