"""Spark 4 Python DataSource for HTTP JSON — the scale-out ingest path
(SURVEY §7 M3).

The reference's scan is a single bounded partition with all data staged
in driver memory (reference src/execution.rs:95-96,
src/datasources.rs:192-198). This source instead registers as a real
``spark.read.format("httpjson")`` provider whose reader:

- splits a known page range (``startPage``/``endPage`` options) into
  contiguous page ranges, one InputPartition each — fetches run in
  parallel on executors, nothing is staged on the driver. The
  ``numPartitions`` option caps the number of ranges (JDBC's option of
  the same name); the engine sets it to the session's parallelism,
  since every task wave beyond the core count costs a scheduling round
  and the reader runs where no session is at hand. Without it, each
  page is its own partition;
- falls back to a single sequential partition for open-ended
  pagination (termination on ``null``/``[]`` is inherently sequential);
- infers its schema from the first page at plan time (or accepts a
  user schema via ``.schema(...)`` — the zero-RPC path);
- maps filters on DECLARED columns (``filterParams`` option) to HTTP
  query params so the fetch itself shrinks: equality is fully pushed,
  ranges are pushed as superset hints and re-checked by Catalyst, and
  everything else is returned unsupported (the reference declares but
  declines all pushdown, src/datasources.rs:386-388).

At 100 TB-class ingest (many pages × many endpoints) this shape is the
right one: page ranges are the parallelism unit, executors fetch
concurrently, and the result lands already partitioned for downstream
repartition/bucketing.

Usage::

    spark.dataSource.register(HttpJsonDataSource)
    df = (spark.read.format("httpjson")
          .option("url", "https://api.example.com/items")
          .option("startPage", 1).option("endPage", 40)
          .option("pageSize", 500)
          .option("numPartitions", 8)
          .load())
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from http_datafusion_spark.config import Pagination
from http_datafusion_spark.errors import ConfigError, HttpError


class HttpJsonDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "httpjson"

    def schema(self):  # noqa: D102 — inferred when the user gives none
        opts = _norm_options(self.options)
        url = opts.get("url")
        if not url:
            raise HttpError("httpjson source requires the 'url' option")
        start = opts.get("startpage")
        rows = _fetch_page_rows(opts, url, int(start) if start is not None else None)
        return _infer_schema_from_rows(rows)

    def reader(self, schema: StructType) -> DataSourceReader:
        return HttpJsonReader(schema, dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:  # noqa: N802
        return HttpJsonStreamReader(schema, dict(self.options))


def _norm_options(options: dict) -> dict:
    """Spark stores DataSource options case-insensitively (lowercased);
    normalize so camelCase option names in user code resolve."""
    return {k.lower(): v for k, v in options.items()}


def _pagination_from_options(options: dict) -> Pagination:
    o = _norm_options(options)
    return Pagination(
        start_page=int(o.get("startpage", 1)),
        end_page=int(o["endpage"]) if o.get("endpage") is not None else None,
        page_size=int(o.get("pagesize", 10)),
        page_param=o.get("pageparam", "page"),
        page_size_param=o.get("pagesizeparam", "limit"),
    )


def _headers_from_options(options: dict) -> dict[str, str] | None:
    """Auth/custom headers travel as one JSON-string option (DataSource
    options are flat strings)."""
    raw = _norm_options(options).get("headersjson")
    return json.loads(raw) if raw else None


def _body_from_options(options: dict):
    raw = _norm_options(options).get("bodyjson")
    return json.loads(raw) if raw else None


def _fetch_page_rows(opts: dict, url: str, page: int | None) -> list:
    """The rows of one request: page ``page`` of ``url``, or ``url``
    itself when ``page`` is None."""
    from http_datafusion_spark.sources.http_json import build_page_url, fetch_json, page_rows

    if page is not None:
        url = build_page_url(url, _pagination_from_options(opts), page)
    body = fetch_json(
        url,
        opts.get("method", "GET"),
        headers=_headers_from_options(opts),
        json_body=_body_from_options(opts),
    )
    return page_rows(body)


def _record(row) -> dict:
    """A row as a record: a non-object JSON value becomes ``{"value": v}``."""
    return row if isinstance(row, dict) else {"value": row}


def _infer_schema_from_rows(rows: Sequence) -> StructType:
    """Plan-time schema inference without a SparkSession: build a tiny
    Arrow table from the staged rows and map its schema to Spark types."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    if not rows:
        return StructType([])
    arrow = pa.Table.from_pylist([_record(r) for r in rows])
    return from_arrow_schema(arrow.schema)


class _PagePartition(InputPartition):
    def __init__(self, pages: range | None):
        self.pages = pages  # None => sequential open-ended scan


def _split_pages(pages: range, n: int | None) -> list[range]:
    """``pages`` as ``min(len(pages), n)`` contiguous ranges in page order,
    sizes differing by at most one; one page per range when ``n`` is None."""
    n = len(pages) if n is None else min(len(pages), n)
    return [pages[i * len(pages) // n : (i + 1) * len(pages) // n] for i in range(n)]


class HttpJsonReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.options = _norm_options(options)
        self._filters_accepted = 0
        self._pushed_params: dict[str, str] = {}

    def pushFilters(self, filters):  # noqa: N802 — Spark 4.1 pushdown hook
        """Filter -> query-param pushdown (SURVEY §4.2 custom extra).

        The reference declares filter pushdown but declines every
        predicate (src/datasources.rs:386-388). Here, the user DECLARES
        which columns the endpoint can filter server-side via the
        ``filterParams`` option (a JSON object mapping column name ->
        query parameter name); that declaration is the contract that
        ``?param=value`` returns exactly the rows where column = value.

        - ``EqualTo`` on a declared column is FULLY pushed: the request
          itself shrinks and the filter is consumed (not re-applied).
        - Range filters (>, >=, <, <=) on a declared column are applied
          as ``<param>__gte`` / ``<param>__lte`` request params to
          shrink the fetch, but ALSO returned to Catalyst for
          re-evaluation — endpoint range semantics (inclusive vs
          exclusive) are not part of the declared contract, so the
          param is a superset hint, never the correctness boundary.
        - Everything else (undeclared columns, IN, IsNull, compound
          paths) is returned unsupported and applied post-scan.
        """
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        raw = self.options.get("filterparams")
        mapping: dict[str, str] = json.loads(raw) if raw else {}
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr is not None and len(attr) == 1 else None
            param = mapping.get(col) if col is not None else None
            if param is None:
                yield f
            elif isinstance(f, EqualTo):
                self._pushed_params[param] = str(f.value)
                self._filters_accepted += 1
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                self._pushed_params[f"{param}__gte"] = str(f.value)
                yield f  # superset fetch; Catalyst re-checks exactness
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                self._pushed_params[f"{param}__lte"] = str(f.value)
                yield f
            else:
                yield f

    def _base_url(self) -> str:
        """The endpoint URL with any pushed filter params appended (the
        pagination params are appended later by build_page_url)."""
        url = self.options["url"]
        for k, v in sorted(self._pushed_params.items()):
            from urllib.parse import quote

            url += ("&" if "?" in url else "?") + f"{quote(k)}={quote(v)}"
        return url

    def partitions(self) -> Sequence[InputPartition]:
        opts = self.options
        max_rows = int(opts["maxrows"]) if opts.get("maxrows") is not None else None
        if opts.get("startpage") is not None and opts.get("endpage") is not None:
            start, end = int(opts["startpage"]), int(opts["endpage"])
            if max_rows is not None:
                # Limit pushdown (SURVEY §4.2): fetch only the pages that
                # can contribute to the first max_rows rows.
                size = _pagination_from_options(opts).page_size or 10
                need = -(-max_rows // size)  # ceil
                end = min(end, start + need - 1)
            n = int(opts["numpartitions"]) if opts.get("numpartitions") is not None else None
            if n is not None and n < 1:
                raise ConfigError(f"httpjson option numPartitions must be >= 1, got {n}")
            return [_PagePartition(r) for r in _split_pages(range(start, end + 1), n)]
        return [_PagePartition(None)]

    def read(self, partition: _PagePartition) -> Iterator[tuple]:
        # Runs on an executor: import inside so the worker re-resolves.
        from http_datafusion_spark.sources.http_json import fetch_rows

        opts = self.options
        url = self._base_url()
        if partition.pages is None:
            max_rows = int(opts["maxrows"]) if opts.get("maxrows") is not None else None
            paging = _pagination_from_options(opts) if opts.get("startpage") is not None else None
            rows = fetch_rows(
                url,
                opts.get("method", "GET"),
                paging,
                max_rows=max_rows,
                headers=_headers_from_options(opts),
                json_body=_body_from_options(opts),
            )
        else:
            rows = (row for page in partition.pages for row in _fetch_page_rows(opts, url, page))
        yield from map(_tuple_converter(self.schema), rows)


class HttpJsonStreamReader(SimpleDataSourceStreamReader):
    """Incremental HTTP polling as a Structured Streaming source — the
    reference's bounded HTTP scan upgraded to `spark.readStream`.

    The offset is the next page number: each micro-batch fetches from
    the committed page forward until a page comes back empty/``null``
    (the batch source's termination rule, reference
    src/datasources.rs:139-142) or until ``maxPagesPerTrigger`` pages
    — the same per-trigger intake bound Kafka's maxOffsetsPerTrigger
    gives (see streaming/kafka.py), so a replay of a deep backlog is
    rate-limited instead of landing in one giant batch.

    ``readBetweenOffsets`` replays a committed page range on recovery:
    pages are assumed stable between checkpoints (an append-only feed),
    which is the same assumption the reference's pagination makes.

    Usage::

        spark.readStream.format("httpjson")
             .schema(schema)                  # or rely on inference
             .option("url", ...).option("pageSize", 100)
             .option("maxPagesPerTrigger", 10)
             .load()
    """

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.options = _norm_options(options)

    def initialOffset(self) -> dict:  # noqa: N802
        return {"page": int(self.options.get("startpage", 1))}

    def _fetch_page(self, page: int) -> list:
        return _fetch_page_rows(self.options, self.options["url"], page)

    def _tuples(self, rows: list) -> Iterator[tuple]:
        # A LIST iterator, not a generator: Spark's simple-stream wrapper
        # calls next() on the result AND copy.copy()s it for replay —
        # generators aren't copyable, bare lists aren't iterators, but
        # CPython list iterators are both (picklable via __reduce__).
        return iter(list(map(_tuple_converter(self.schema), rows)))

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        max_pages = int(self.options.get("maxpagespertrigger", 10))
        page = int(start["page"])
        rows: list = []
        fetched = 0
        while fetched < max_pages:
            batch = self._fetch_page(page + fetched)
            if not batch:
                break  # frontier reached; offset stays put until data appears
            rows.extend(batch)
            fetched += 1
        return self._tuples(rows), {"page": page + fetched}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:  # noqa: N802
        rows: list = []
        for page in range(int(start["page"]), int(end["page"])):
            rows.extend(self._fetch_page(page))
        return self._tuples(rows)


def _coerce(v):
    """JSON value -> something Spark's row converter accepts; nested
    objects pass through as dicts (StructType) / lists (ArrayType)."""
    if isinstance(v, dict):
        return {k: _coerce(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_coerce(x) for x in v]
    return v


def _int_guard(v):
    """Integer-typed field: refuse LOSSY float coercion loudly.

    The schema is frozen from the first page (the zero-RPC trade), so a
    later page can carry ``30.5`` for a column inferred as bigint.
    Spark's Arrow conversion would silently truncate it to ``30`` —
    data corruption worse than the reference's error-at-batch-read
    (src/execution.rs:183-200). Integral floats pass losslessly;
    fractional ones raise with the fix spelled out."""
    if isinstance(v, float):
        if v.is_integer():
            return int(v)
        raise HttpError(
            f"type widening: value {v!r} does not fit the integer type inferred "
            "from the first page — pass an explicit .schema(...) with a DOUBLE "
            "column (first-page inference cannot see later pages)"
        )
    return v


def _coercer_for(dt):
    """Schema-aware converter for one field type, built once per read.

    Recurses into struct/array types so a nested fractional float in an
    integer-typed nested field is caught too; all other types take the
    generic passthrough."""
    from pyspark.sql.types import ArrayType, ByteType, IntegerType, LongType, ShortType, StructType

    if isinstance(dt, (LongType, IntegerType, ShortType, ByteType)):
        return _int_guard
    if isinstance(dt, StructType):
        subs = {f.name: _coercer_for(f.dataType) for f in dt.fields}

        def conv_struct(v, subs=subs):
            if not isinstance(v, dict):
                return v
            return {k: (subs[k](x) if k in subs else _coerce(x)) for k, x in v.items()}

        return conv_struct
    if isinstance(dt, ArrayType):
        elem = _coercer_for(dt.elementType)

        def conv_array(v, elem=elem):
            if not isinstance(v, list):
                return v
            return [elem(x) for x in v]

        return conv_array
    return _coerce


def _tuple_converter(schema: StructType):
    """Row -> the schema-ordered tuple the reader yields, each field
    through its type's coercer (built once per read)."""
    convs = [(f.name, _coercer_for(f.dataType)) for f in schema.fields]

    def to_tuple(row) -> tuple:
        r = _record(row)
        return tuple(conv(r.get(name)) for name, conv in convs)

    return to_tuple


def register(spark) -> None:
    """Register the 'httpjson' format on a session."""
    spark.dataSource.register(HttpJsonDataSource)
