"""HTTP JSON ingestion — the reference's bespoke layer, Spark-first.

Reference behavior being re-created (for parity, with the bugs fixed):

- fetch JSON from a REST endpoint with GET/POST only; non-2xx is an
  error (reference src/datasources.rs:212-268);
- array body -> N rows, object body -> 1 row, null -> none
  (src/datasources.rs:177-190) — ``page_rows``, the one rule both
  ingest paths use;
- optional pagination: ``?page=N`` starting at ``start_page``,
  incrementing until the endpoint is exhausted
  (src/datasources.rs:119-161). The reference stops only on JSON
  ``null`` — an endpoint returning ``[]`` past the last page loops
  forever (src/datasources.rs:139-142). We keep the *intent* (fetch
  until exhausted) and stop on ``null`` **or** ``[]``;
- the reference's ``Pagination`` config (page_param/page_size_param/
  end_page…, src/model.rs:20-34) is only consumed by dead code
  (src/datasources.rs:286-316); here it is honored for real;
- empty first fetch panics in the reference
  (``data.first().unwrap()``, src/datasources.rs:195); here it yields
  an empty DataFrame;
- schema: the reference infers from the FIRST record only
  (src/datasources.rs:318-343); Spark's full-scan inference is
  strictly more robust, so the default is full-scan with an opt-in
  ``schema_mode="first_record"`` for bit-parity experiments.

One walker, ``fetch_rows``, serves all three pagination modes. The loop
owns every stop rule (``max_rows`` reached, a null or empty page, no
next request, a request already made, the mode's page cap); a mode
contributes only its first URL and a step from one response to
``(rows, next_url)``:

- page number (``Pagination``): ``?page=N&limit=M`` up to ``end_page``
  (open-ended when None); a single-object page ends the walk;
- cursor/token (``CursorPagination``): the response object's
  ``data_field`` holds the rows and its ``cursor_field`` the token for
  the next request;
- RFC 8288 Link (``LinkPagination``): the response's
  ``Link: <...>; rel="next"`` header names the next URL, resolved
  against the current one.

Scale note: this module fetches rows on the driver — exactly what the
reference does (src/datasources.rs:192-198) and appropriate for
config-driven API ingest (bounded payloads). The rows reach the JVM as
JSON lines in one Arrow table and Spark's own JSON reader parses them
there, so staging and the cache build run no Python worker. For large
paginated APIs use sources/datasource.py, which fetches pages in
parallel on executors (contiguous page ranges, at most one partition
per core when the engine drives it) and never materializes the dataset
on the driver.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Mapping
from typing import Any

import requests
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from http_datafusion_spark.config import CursorPagination, LinkPagination, Pagination, Paging
from http_datafusion_spark.errors import HttpError

_ALLOWED_METHODS = {"GET", "POST"}
_DEFAULT_TIMEOUT = 30.0
_RETRY_AFTER_CAP = 30.0  # ceiling on honored Retry-After sleeps (seconds)


def fetch_json(
    url: str,
    method: str = "GET",
    timeout: float = _DEFAULT_TIMEOUT,
    retries: int = 3,
    backoff: float = 0.5,
    headers: dict[str, str] | None = None,
    json_body: Any | None = None,
) -> Any:
    """One HTTP request -> parsed JSON (reference src/datasources.rs:212-268).

    Only GET/POST are allowed, mirroring the reference's method gate
    (src/datasources.rs:217-223). Non-2xx raises HttpError
    (src/datasources.rs:265-267). A ``null`` body returns None.

    Beyond the reference: transient failures (connection errors, 429,
    5xx) retry with exponential backoff — at cluster scale a thousand
    executors hitting one API WILL see sporadic 503s, and a single
    failed page must not kill a 10k-page ingest job. A 429/503 carrying
    a ``Retry-After: <seconds>`` header is honored (capped at
    ``_RETRY_AFTER_CAP``) in place of that attempt's exponential delay —
    the server's own pacing beats client-side guessing, and ignoring it
    is how a polite ingest becomes a ban.
    """
    resp = _request_with_retries(
        url,
        method=method,
        timeout=timeout,
        retries=retries,
        backoff=backoff,
        headers=headers,
        json_body=json_body,
    )
    return _json_of(resp, url)


def _json_of(resp: "requests.Response", url: str) -> Any:
    try:
        return resp.json()
    except ValueError as e:
        raise HttpError(f"failed to parse JSON from {url!r}: {e}") from e


def _request_with_retries(
    url: str,
    method: str = "GET",
    timeout: float = _DEFAULT_TIMEOUT,
    retries: int = 3,
    backoff: float = 0.5,
    headers: dict[str, str] | None = None,
    json_body: Any | None = None,
    accept_304: bool = False,
) -> "requests.Response":
    """The shared retry/Retry-After loop behind fetch_json and
    fetch_json_conditional: returns the Response on 2xx (or 304 when
    ``accept_304``), retries connection errors / 429 / 5xx with
    exponential backoff (a numeric Retry-After, capped at
    ``_RETRY_AFTER_CAP``, overrides that attempt's delay), and raises
    HttpError on other statuses or when retries are exhausted."""
    import time

    method = (method or "GET").upper()
    if method not in _ALLOWED_METHODS:
        raise HttpError(f"No Method Available: {method!r} (allowed: GET, POST)")
    last_err: Exception | None = None
    retry_after: float | None = None
    for attempt in range(retries + 1):
        if attempt:
            time.sleep(retry_after if retry_after is not None else backoff * (2 ** (attempt - 1)))
        retry_after = None
        try:
            resp = requests.request(
                method, url, timeout=timeout, headers=headers, json=json_body
            )
        except requests.RequestException as e:
            last_err = HttpError(f"request execution failed for {url!r}: {e}")
            continue
        if accept_304 and resp.status_code == 304:
            return resp
        if resp.status_code == 429 or 500 <= resp.status_code < 600:
            ra = resp.headers.get("Retry-After")
            if ra is not None:
                try:
                    retry_after = min(float(ra), _RETRY_AFTER_CAP)
                except ValueError:
                    retry_after = None  # HTTP-date form: fall back to backoff
            last_err = HttpError(
                f"HTTP request failed with status code: {resp.status_code} ({url})"
            )
            continue
        if not (200 <= resp.status_code < 300):
            # Non-retryable client errors fail immediately.
            raise HttpError(
                f"HTTP request failed with status code: {resp.status_code} ({url})"
            )
        return resp
    raise last_err  # type: ignore[misc]


def page_rows(body: Any) -> list[Any]:
    """The rows of one response body: an array is its elements, an
    object one row, null none (reference src/datasources.rs:177-190)."""
    if body is None:
        return []
    return body if isinstance(body, list) else [body]


def build_page_url(url: str, pagination: Pagination, page: int) -> str:
    """Compose the page URL from the Pagination config.

    The reference's live path hard-codes ``?page=N``
    (src/datasources.rs:125) while its config model declares
    page_param/page_size_param (src/model.rs:20-34); we honor the
    config, defaulting to the same ``page``/``limit`` names
    (src/model.rs:48-59).
    """
    sep = "&" if "?" in url else "?"
    size = pagination.page_size or pagination.page_size_default
    return f"{url}{sep}{pagination.page_param}={page}&{pagination.page_size_param}={size}"


def build_cursor_url(url: str, cp: CursorPagination, cursor: str | None) -> str:
    """Compose the request URL for one cursor-pagination step: the
    page-size param always, the cursor param only once the server has
    issued a token (the first request asks for page one by omission)."""
    from urllib.parse import quote

    parts = []
    if cp.page_size is not None:
        parts.append(f"{cp.page_size_param}={cp.page_size}")
    if cursor is not None:
        parts.append(f"{cp.cursor_param}={quote(str(cursor), safe='')}")
    if not parts:
        return url
    sep = "&" if "?" in url else "?"
    return f"{url}{sep}{'&'.join(parts)}"


# A mode's step: (pages fetched so far, this page's URL, its parsed body,
# its response headers) -> (this page's rows, the next URL or None).
Step = Callable[[int, str, Any, Mapping[str, str]], tuple[list[Any], str | None]]
Mode = tuple[str | None, Step, int | None]  # (first URL, step, page cap)


def _fetch_page(
    url: str, method: str, headers: dict[str, str] | None, json_body: Any | None
) -> tuple[Any, Mapping[str, str]]:
    """The walker's one request: parsed body plus response headers (the
    Link mode reads its next URL from them), on the shared retry loop."""
    resp = _request_with_retries(url, method=method, headers=headers, json_body=json_body)
    return _json_of(resp, url), resp.headers


def _page_number_mode(url: str, pag: Pagination) -> Mode:
    # Non-numeric start pages parse to 0 in the reference
    # (src/datasources.rs:159-160); here they are an error.
    start = int(pag.start_page)

    def page_url(page: int) -> str | None:
        if pag.end_page is not None and page > pag.end_page:
            return None
        return build_page_url(url, pag, page)

    def step(n: int, _cur: str, body: Any, _headers: Mapping[str, str]):
        # A single-object page has nothing further to paginate.
        return page_rows(body), (page_url(start + n) if isinstance(body, list) else None)

    return page_url(start), step, None


def _cursor_mode(url: str, cp: CursorPagination) -> Mode:
    def step(_n: int, _cur: str, body: Any, _headers: Mapping[str, str]):
        if body is None:
            return [], None
        if not isinstance(body, dict):
            raise HttpError(
                f"cursor pagination expects an object body with "
                f"{cp.data_field!r}/{cp.cursor_field!r} fields; got "
                f"{type(body).__name__} from {url!r}"
            )
        if cp.data_field not in body:
            # A missing data key is a misconfiguration (wrong data_field
            # or a non-paginated endpoint), not "no more pages" — silently
            # returning a truncated/empty table would mask it. Only an
            # explicit empty array means done.
            raise HttpError(
                f"cursor pagination field {cp.data_field!r} absent from "
                f"response body of {url!r} (keys: {sorted(body)})"
            )
        rows = body[cp.data_field]
        if not rows:
            return [], None
        if not isinstance(rows, list):
            raise HttpError(
                f"cursor pagination field {cp.data_field!r} must be an array; "
                f"got {type(rows).__name__} from {url!r}"
            )
        nxt = body.get(cp.cursor_field)
        return rows, (None if nxt is None or nxt == "" else build_cursor_url(url, cp, str(nxt)))

    return build_cursor_url(url, cp, None), step, cp.max_pages


def _link_mode(url: str, lp: LinkPagination) -> Mode:
    from urllib.parse import urljoin

    def step(_n: int, cur: str, body: Any, headers: Mapping[str, str]):
        nxt = parse_link_next(headers.get("Link"))
        return page_rows(body), (None if nxt is None else urljoin(cur, nxt))

    return url, step, lp.max_pages


_MODES: dict[type, Callable[[str, Any], Mode]] = {
    Pagination: _page_number_mode,
    CursorPagination: _cursor_mode,
    LinkPagination: _link_mode,
}


def fetch_rows(
    url: str,
    method: str = "GET",
    paging: Paging | None = None,
    *,
    max_rows: int | None = None,
    headers: dict[str, str] | None = None,
    json_body: Any | None = None,
) -> list[Any]:
    """Fetch all rows from an endpoint, walking its pages when ``paging``
    names a mode (reference populate_data, src/datasources.rs:110-199).

    Without ``paging``: one request, its body through ``page_rows``.
    With it, the walk stops before a fetch when ``max_rows`` rows are
    staged (limit pushdown, SURVEY §4.2: a LIMIT n query must not fetch
    a 10k-page source), when the mode names no next request, when that
    request was already made (a re-served cursor or a looping Link chain
    is a server bug that must not spin to the cap), or at the mode's page
    cap (``max_pages``; page-number mode has ``end_page`` instead); and
    after a fetch on a null or empty page (the reference stops on null
    only and loops forever on ``[]``, src/datasources.rs:139-142). Rows
    are never trimmed — the engine applies the exact LIMIT; the cap only
    stops further page *fetches*.
    """
    if paging is None:
        return page_rows(_fetch_page(url, method, headers, json_body)[0])
    nxt, step, cap = _MODES[type(paging)](url, paging)
    rows: list[Any] = []
    seen: set[str] = set()
    while (
        nxt is not None
        and nxt not in seen
        and (cap is None or len(seen) < cap)
        and (max_rows is None or len(rows) < max_rows)
    ):
        seen.add(nxt)
        body, resp_headers = _fetch_page(nxt, method, headers, json_body)
        page, nxt = step(len(seen), nxt, body, resp_headers)
        if not page:
            break
        rows.extend(page)
    return rows


def _has_typed_scalar(v: Any) -> bool:
    """True if the value carries at least one concrete scalar anywhere —
    the only thing schema inference can hang a type on."""
    if isinstance(v, (bool, int, float, str)):
        return True
    if isinstance(v, list):
        return any(_has_typed_scalar(x) for x in v)
    if isinstance(v, dict):
        return any(_has_typed_scalar(x) for x in v.values())
    return False


def _normalize_untyped(v: Any) -> Any:
    """Replace untyped-empty containers (``{}``, ``[]``, and containers
    holding only None/``{}``/``[]``) with ``null``, recursively.

    Real paginated APIs emit empty-object placeholders; Spark's JSON
    schema merge can CANCEL a column when one row carries ``{}`` and
    another a typed scalar at the same key (empty structs are pruned by
    canonicalization and the conflicting field vanishes — reproduced by
    tests/test_property.py::test_json_staging_survives_ragged_rows on
    ``[{'k3': {}}, {'k1': [], 'k3': ''}]``). Null is the type-neutral
    spelling of "no data here", so the typed rows win the merge and the
    column survives — the full-scan robustness this module promises over
    the reference's first-record inference (src/datasources.rs:318-343).
    """
    if isinstance(v, dict):
        if not _has_typed_scalar(v):
            return None
        return {k: _normalize_untyped(x) for k, x in v.items()}
    if isinstance(v, list):
        if not _has_typed_scalar(v):
            return None
        return [_normalize_untyped(x) for x in v]
    return v


def json_rows_to_df(
    spark: SparkSession,
    rows: list[Any],
    schema_mode: str = "full",
) -> DataFrame:
    """Stage JSON rows as a DataFrame.

    ``schema_mode="full"`` (default): Spark infers over all rows —
    strictly more robust than the reference — with untyped-empty
    containers normalized to null first (see ``_normalize_untyped``)
    so a ``{}`` placeholder in one row cannot cancel a typed column
    from another. ``"first_record"``: infer from row 1 only verbatim,
    dropping later-only fields, mirroring reference
    src/datasources.rs:195-196 + 318-343 (no normalization — parity
    mode reproduces the reference byte-for-byte).

    Each row becomes one JSON line that Spark's own JSON reader parses
    in the JVM (``_read_json_lines``), so inference, parsing and the
    cache build run no Python worker. Lines are ASCII-escaped: a lone
    surrogate escape in an API body (``"\\ud800"``) is not valid UTF-8
    and could not reach the JVM verbatim; escaped, the JSON reader
    decodes it as ``?`` and the row stages.

    Empty input yields an empty 0-column DataFrame instead of the
    reference's panic (src/datasources.rs:195).
    """
    if not rows:
        return spark.createDataFrame([], schema="struct<>")
    if schema_mode == "full":
        rows = [
            {k: _normalize_untyped(v) for k, v in r.items()} if isinstance(r, dict) else r
            for r in rows
        ]
    elif schema_mode != "first_record":
        raise ValueError(f"unknown schema_mode {schema_mode!r}")
    lines = [json.dumps(r) for r in rows]
    if schema_mode == "first_record":
        schema = _read_json_lines(spark, lines[:1]).schema
        return _read_json_lines(spark, lines, schema)
    return _read_json_lines(spark, lines)


def _read_json_lines(
    spark: SparkSession, lines: list[str], schema: StructType | None = None
) -> DataFrame:
    """Parse JSON lines with Spark's JSON reader over a ``Dataset[String]``
    built in the JVM, so no Python RDD sits under the result.

    The lines travel as one Arrow string per core (a ``LocalTableScan``)
    and are split back into lines in the JVM: ``json.dumps`` escapes
    every newline inside a value, so ``\\n`` separates lines exactly.
    One local row per line would make every job ship one serialized
    object per line inside its tasks (at 10^5 lines on 4 cores, schema
    inference took 0.33 s instead of 0.11 s)."""
    import pyarrow as pa

    n = -(-len(lines) // spark.sparkContext.defaultParallelism)
    chunks = ["\n".join(lines[i : i + n]) for i in range(0, len(lines), n)]
    strings = spark.createDataFrame(pa.table({"value": chunks})).select(
        F.explode(F.split("value", "\n")).alias("value")
    )
    encoder = spark._jvm.org.apache.spark.sql.Encoders.STRING()
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader._df(reader._jreader.json(getattr(strings._jdf, "as")(encoder)))


def register_http_table(
    spark: SparkSession,
    url: str,
    method: str = "GET",
    table_name: str = "http_table",
    paging: Paging | None = None,
    schema_mode: str = "full",
    cache: bool = True,
    max_rows: int | None = None,
    headers: dict[str, str] | None = None,
    json_body: Any | None = None,
) -> DataFrame:
    """Fetch + register a named temp view — the Spark analogue of
    ``dataframe::url`` (reference src/dataframe.rs:7-24).

    The reference re-serializes and re-parses the staged JSON on every
    query execution (src/execution.rs:173-202); we ``cache()`` the
    ingested DataFrame instead so repeat queries hit the in-memory
    columnar form. ``paging`` and ``max_rows`` go to fetch_rows.
    """
    rows = fetch_rows(url, method, paging, max_rows=max_rows, headers=headers, json_body=json_body)
    return _register_rows(spark, rows, table_name, schema_mode, cache)


def _register_rows(
    spark: SparkSession, rows: list[Any], table_name: str, schema_mode: str, cache: bool
) -> DataFrame:
    df = json_rows_to_df(spark, rows, schema_mode=schema_mode)
    if cache and rows:
        df = df.cache()
    df.createOrReplaceTempView(table_name)
    return df


def fetch_json_conditional(
    url: str,
    etag: str | None = None,
    last_modified: str | None = None,
    method: str = "GET",
    timeout: float = _DEFAULT_TIMEOUT,
    headers: dict[str, str] | None = None,
) -> tuple[Any, str | None, str | None, bool]:
    """Conditional fetch (RFC 9110 preconditions) — incremental-refresh
    support the reference's one-shot model has no notion of: send
    ``If-None-Match`` (validator of the copy we already staged) and/or
    ``If-Modified-Since``; a ``304 Not Modified`` means the staged rows
    are still current, so a periodic re-ingest pays ONE header
    round-trip instead of re-downloading and re-writing the table.

    Returns ``(body, etag, last_modified, not_modified)``:

    - 304 -> ``(None, <sent etag>, <sent last_modified>, True)`` — the
      caller keeps its staged data and validators;
    - 2xx -> ``(parsed_json, <response ETag>, <response Last-Modified>,
      False)`` — fresh body plus the validators to store for the NEXT
      refresh (absent headers come back as None, degrading the next
      call to an unconditional fetch).

    The retry/Retry-After discipline is the SAME loop fetch_json uses
    (``_request_with_retries``, r11 ADVICE item 2) with a 304
    short-circuit — a transient 429/503 during a periodic conditional
    refresh backs off and retries instead of killing the refresh
    (requests treats 304 as a non-exceptional response with an empty
    body).
    """
    h = dict(headers or {})
    if etag is not None:
        h["If-None-Match"] = etag
    if last_modified is not None:
        h["If-Modified-Since"] = last_modified
    resp = _request_with_retries(
        url, method=method, timeout=timeout, headers=h, accept_304=True
    )
    if resp.status_code == 304:
        return None, etag, last_modified, True
    return _json_of(resp, url), resp.headers.get("ETag"), resp.headers.get("Last-Modified"), False


def refresh_http_table(
    spark: SparkSession,
    url: str,
    table_name: str,
    etag: str | None = None,
    last_modified: str | None = None,
    method: str = "GET",
    schema_mode: str = "full",
    cache: bool = True,
    headers: dict[str, str] | None = None,
) -> tuple[str | None, str | None, bool]:
    """One periodic-refresh cycle for a conditionally-fetched table:
    re-validate the staged copy with fetch_json_conditional and only
    re-stage on a real change.

    - **304** -> the registered temp view is left completely untouched
      (no re-parse, no re-cache, no view churn) and the caller's
      validators come back unchanged;
    - **2xx** -> the fresh body replaces the view (same normalization
      path as register_http_table) and the NEW validators are returned
      for the next cycle.

    Returns ``(etag, last_modified, refreshed)``. This is the
    incremental half the reference's one-shot model lacks: a
    1000-executor cluster re-validating a dimension feed every few
    minutes pays one header round-trip per cycle, not one full
    download + rewrite per cycle.
    """
    body, new_etag, new_lm, not_modified = fetch_json_conditional(
        url, etag=etag, last_modified=last_modified, method=method, headers=headers
    )
    if not_modified:
        return new_etag, new_lm, False
    _register_rows(spark, page_rows(body), table_name, schema_mode, cache)
    return new_etag, new_lm, True


def _state_split(s: str, delim: str, *, angle: bool) -> list[str]:
    """Split ``s`` on ``delim`` OUTSIDE quoted strings (and, when
    ``angle`` is set, outside ``<...>`` targets). An unterminated
    ``<`` flushes at the next ``<``: RFC 3986 forbids a raw ``<`` in a
    URI-Reference, so a second ``<`` inside an open target means the
    first one was truncated/malformed — flushing it as its own (dead)
    part keeps a broken link-value from absorbing a later well-formed
    one (``'<broken, <b>; rel="next"'`` must still yield ``b``).
    """
    parts: list[str] = []
    buf: list[str] = []
    in_angle = in_quote = False
    for ch in s:
        if in_quote:
            if ch == '"':
                in_quote = False
            buf.append(ch)
        elif in_angle:
            if ch == ">":
                in_angle = False
                buf.append(ch)
            elif ch == "<":
                parts.append("".join(buf))
                buf = [ch]
            else:
                buf.append(ch)
        elif ch == "<" and angle:
            in_angle = True
            buf.append(ch)
        elif ch == '"':
            in_quote = True
            buf.append(ch)
        elif ch == delim:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return parts


def parse_link_next(link_header: str | None) -> str | None:
    """Extract the ``rel="next"`` target from an RFC 8288 ``Link``
    header (the GitHub/Stripe-style pagination contract), or None.

    Handles multiple comma-separated link-values, quoted and unquoted
    ``rel`` params, extra params per link, and multi-valued rel lists
    (``rel="next last"``). Deliberately a small, dependency-free parser.
    Link-values are split on commas OUTSIDE ``<...>`` targets and
    outside quoted param values: RFC 3986 allows a bare ',' (a
    sub-delim) in URL paths and query strings, so a legal target like
    ``</items?ids=1,2,3>`` must NOT be split apart (an earlier naive
    split silently dropped such a rel=next link and truncated ingest).
    The per-link ``;`` param split is quote-aware for the same reason
    one level down: a quoted param value may contain ``;`` (e.g.
    ``title="x;rel=next"``), and a bare split tears it into a fragment
    that reads as a rel param — returning the WRONG link. The ``rel``
    param name is matched exactly — a ``relation=...`` extension param
    must not be misread as the relation list.
    """
    if not link_header:
        return None
    for part in _state_split(link_header, ",", angle=True):
        part = part.strip()
        if not part.startswith("<"):
            continue
        end = part.find(">")
        if end < 0:
            continue
        target = part[1:end]
        for param in _state_split(part[end + 1 :], ";", angle=False):
            name, _, val = param.partition("=")
            if name.strip().lower() != "rel":
                continue
            rels = val.strip().strip('"').lower().split()
            if "next" in rels:
                return target
    return None
