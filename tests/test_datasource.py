"""Spark 4 Python DataSource ("httpjson") tests — the scale-out ingest
path: page-range partitions, schema inference, filter
behavior, open-ended fallback.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from http_datafusion_spark.errors import ConfigError

ROWS = [{"id": i, "tag": f"t{i % 3}", "score": i * 0.5} for i in range(1, 101)]


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *args):
        pass

    def do_GET(self):  # noqa: N802
        q = parse_qs(urlparse(self.path).query)
        page = int(q.get("page", ["1"])[0])
        size = int(q.get("limit", ["10"])[0])
        body = json.dumps(ROWS[(page - 1) * size : page * size]).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture(scope="module")
def url(spark):
    from http_datafusion_spark.sources.datasource import register

    register(spark)
    srv = HTTPServer(("127.0.0.1", 0), _Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}/items"
    srv.shutdown()


def _read(spark, url, **opts):
    r = spark.read.format("httpjson").option("url", url)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_page_per_partition(spark, url):
    df = _read(spark, url, startPage=1, endPage=10, pageSize=10)
    assert df.rdd.getNumPartitions() == 10  # one partition per page
    assert df.count() == 100


def _partition_pages(**opts) -> list[list[int]]:
    from http_datafusion_spark.sources.datasource import HttpJsonReader

    reader = HttpJsonReader(None, {"url": "http://unused", **opts})
    return [list(p.pages) for p in reader.partitions()]


def test_page_ranges_split_evenly_in_order():
    for n_pages in range(1, 13):
        for n_parts in range(1, 9):
            parts = _partition_pages(startPage=3, endPage=2 + n_pages, numPartitions=n_parts)
            assert len(parts) == min(n_pages, n_parts)
            assert [p for part in parts for p in part] == list(range(3, 3 + n_pages))
            sizes = [len(part) for part in parts]
            assert min(sizes) >= 1 and max(sizes) - min(sizes) <= 1
            assert all(part == list(range(part[0], part[-1] + 1)) for part in parts)
    # the maxRows trim comes first: 25 rows at 10 per page need pages 3-5
    assert _partition_pages(startPage=3, endPage=12, pageSize=10, maxRows=25, numPartitions=2) == [
        [3],
        [4, 5],
    ]
    # without the option, each page is its own partition
    assert _partition_pages(startPage=3, endPage=7) == [[3], [4], [5], [6], [7]]
    with pytest.raises(ConfigError, match="numPartitions"):
        _partition_pages(startPage=1, endPage=4, numPartitions=0)


def test_schema_inference_from_first_page(spark, url):
    df = _read(spark, url, startPage=1, endPage=2, pageSize=10)
    assert df.schema.simpleString() == "struct<id:bigint,tag:string,score:double>"


def test_aggregation_over_parallel_pages(spark, url):
    df = _read(spark, url, startPage=1, endPage=10, pageSize=10)
    got = {(r.tag, r["count"]) for r in df.groupBy("tag").count().collect()}
    assert got == {("t0", 33), ("t1", 34), ("t2", 33)}


def test_filters_applied_post_scan(spark, url):
    df = _read(spark, url, startPage=1, endPage=10, pageSize=10)
    assert df.filter("score > 40").count() == sum(1 for r in ROWS if r["score"] > 40)


def test_open_ended_pagination_sequential(spark, url):
    df = _read(spark, url, startPage=1, pageSize=25)
    assert df.rdd.getNumPartitions() == 1  # termination unknown => sequential
    assert df.count() == 100


def test_user_schema_skips_inference(spark, url):
    df = (
        spark.read.format("httpjson")
        .schema("id bigint, score double")
        .option("url", url)
        .option("startPage", 1)
        .option("endPage", 4)
        .option("pageSize", 25)
        .load()
    )
    assert df.columns == ["id", "score"]
    assert df.count() == 100


N_REQUESTS = {"n": 0}


class _CountingHandler(_Handler):
    def do_GET(self):  # noqa: N802
        N_REQUESTS["n"] += 1
        super().do_GET()


@pytest.fixture()
def counting_url(spark):
    from http_datafusion_spark.sources.datasource import register

    register(spark)
    srv = HTTPServer(("127.0.0.1", 0), _CountingHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    N_REQUESTS["n"] = 0
    yield f"http://127.0.0.1:{srv.server_port}/items"
    srv.shutdown()


def test_maxrows_caps_page_partitions(spark, counting_url):
    # 10 pages exist; LIMIT-style maxRows=25 at pageSize=10 needs 3.
    df = _read(spark, counting_url, startPage=1, endPage=10, pageSize=10, maxRows=25)
    assert df.rdd.getNumPartitions() == 3
    assert df.limit(25).count() == 25


def test_maxrows_stops_open_ended_fetch(spark, counting_url):
    df = _read(spark, counting_url, startPage=1, pageSize=10, maxRows=25)
    assert df.count() == 30  # 3 pages staged, never trimmed mid-page
    # schema inference probes page 1 once; the scan fetches 3 pages.
    assert N_REQUESTS["n"] <= 5


def test_engine_pushes_limit_into_page_fetch(spark, counting_url):
    from http_datafusion_spark.config import Config
    from http_datafusion_spark.engine import run

    cfg = Config.from_dict(
        {
            "sources": [
                {
                    "name": "items",
                    "url": counting_url,
                    "pagination": {"start_page": 1, "page_size": 10, "page_size_param": "limit"},
                    "sql": "SELECT id, tag FROM items LIMIT 12",
                }
            ]
        }
    )
    res = run(cfg, spark=spark, show=False)
    assert res[0].result.count() == 12
    # ceil(12/10) = 2 pages, not all 10 (+1 tolerated for retry/probe).
    assert N_REQUESTS["n"] <= 3


def test_engine_does_not_push_unsafe_limit(spark, counting_url):
    from http_datafusion_spark.config import Config
    from http_datafusion_spark.engine import run

    cfg = Config.from_dict(
        {
            "sources": [
                {
                    "name": "items",
                    "url": counting_url,
                    "pagination": {"start_page": 1, "page_size": 10, "page_size_param": "limit"},
                    "sql": "SELECT tag, count(*) AS n FROM items GROUP BY tag ORDER BY tag LIMIT 2",
                }
            ]
        }
    )
    res = run(cfg, spark=spark, show=False)
    rows = {(r.tag, r.n) for r in res[0].result.collect()}
    assert rows == {("t0", 2)} or len(rows) == 2  # grouped over ALL 100 rows
    assert N_REQUESTS["n"] >= 10  # every page + termination probe fetched


def test_pushable_limit_extractor():
    from http_datafusion_spark.engine import pushable_limit

    assert pushable_limit("SELECT a, b FROM t LIMIT 5", "t") == 5
    assert pushable_limit("select * from t limit 10;", "t") == 10
    assert pushable_limit("SELECT a FROM other LIMIT 5", "t") is None
    assert pushable_limit("SELECT a FROM t WHERE a > 1 LIMIT 5", "t") is None
    assert pushable_limit("SELECT count(*) FROM t LIMIT 5", "t") is None
    assert pushable_limit("SELECT a FROM t ORDER BY a LIMIT 5", "t") is None
    assert pushable_limit("SELECT a FROM t JOIN u ON 1=1 LIMIT 5", "t") is None
    assert pushable_limit("SELECT DISTINCT a FROM t LIMIT 5", "t") is None
    assert pushable_limit("SELECT a FROM t", "t") is None
    assert pushable_limit(None, "t") is None


def _stream_to_memory(spark, url, **opts):
    import tempfile
    import uuid

    r = spark.readStream.format("httpjson").option("url", url)
    for k, v in opts.items():
        r = r.option(k, v)
    name = f"http_stream_{uuid.uuid4().hex[:8]}"
    q = (
        r.load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="hds_http_ckpt_"))
        .start()
    )
    try:
        q.processAllAvailable()
        progress = list(q.recentProgress)
    finally:
        q.stop()
        q.awaitTermination(30)
    return spark.table(name), progress


def test_stream_drains_all_pages_and_matches_batch(spark, url):
    out, _ = _stream_to_memory(spark, url, pageSize=10)
    batch = _read(spark, url, startPage=1, endPage=10, pageSize=10)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_max_pages_per_trigger_bounds_batches(spark, url):
    # 100 rows / pageSize 10 = 10 pages; 2 pages per trigger => >=5
    # non-empty micro-batches, each ingesting at most 20 rows.
    out, progress = _stream_to_memory(spark, url, pageSize=10, maxPagesPerTrigger=2)
    assert out.count() == len(ROWS)
    fed = [p for p in progress if p["numInputRows"] > 0]
    assert len(fed) >= 5
    assert max(p["numInputRows"] for p in fed) <= 20


def test_stream_offset_advances_only_on_data(spark, url):
    from http_datafusion_spark.sources.datasource import HttpJsonStreamReader
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("id bigint, tag string, score double")
    rdr = HttpJsonStreamReader(schema, {"url": url, "pageSize": "40"})
    rows1, off1 = rdr.read(rdr.initialOffset())
    assert len(list(rows1)) == 100 and off1 == {"page": 4}  # 3 full pages + empty stop
    rows2, off2 = rdr.read(off1)
    assert list(rows2) == [] and off2 == off1  # frontier: offset parked


SEEN_QUERIES: list[str] = []


class _FilteringHandler(BaseHTTPRequestHandler):
    """Serves ROWS with server-side filtering: ?tag=X (exact) and
    ?score__gte=/__lte= (inclusive range), plus page/limit pagination —
    the endpoint shape the filterParams contract declares."""

    def log_message(self, *args):
        pass

    def do_GET(self):  # noqa: N802
        q = parse_qs(urlparse(self.path).query)
        SEEN_QUERIES.append(urlparse(self.path).query)
        rows = ROWS
        if "tag" in q:
            rows = [r for r in rows if r["tag"] == q["tag"][0]]
        if "score__gte" in q:
            rows = [r for r in rows if r["score"] >= float(q["score__gte"][0])]
        if "score__lte" in q:
            rows = [r for r in rows if r["score"] <= float(q["score__lte"][0])]
        page = int(q.get("page", ["1"])[0])
        size = int(q.get("limit", ["10"])[0])
        body = json.dumps(rows[(page - 1) * size : page * size]).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture()
def filtering_url(spark):
    from http_datafusion_spark.sources.datasource import register

    register(spark)
    srv = HTTPServer(("127.0.0.1", 0), _FilteringHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    SEEN_QUERIES.clear()
    yield f"http://127.0.0.1:{srv.server_port}/items"
    srv.shutdown()


def test_filter_param_pushdown_equality(spark, filtering_url):
    """EqualTo on a declared column becomes a request query param: the
    server returns ONLY matching rows (the fetch shrinks) and the
    result is exact."""
    df = _read(
        spark,
        filtering_url,
        startPage=1,
        endPage=10,
        pageSize=10,
        filterParams='{"tag": "tag"}',
    ).filter("tag = 't1'")
    assert df.count() == sum(1 for r in ROWS if r["tag"] == "t1")
    scan_queries = [s for s in SEEN_QUERIES if "tag=t1" in s]
    assert scan_queries, f"no request carried the pushed tag param: {SEEN_QUERIES}"
    # The fully-pushed equality is consumed by the source: no Filter
    # node on tag remains in the physical plan.
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "t1" not in plan


def test_filter_param_range_pushed_and_recheck(spark, filtering_url):
    """A range filter on a declared column shrinks the fetch via
    <param>__gte but stays in the plan for Catalyst's exactness."""
    df = _read(
        spark,
        filtering_url,
        startPage=1,
        endPage=10,
        pageSize=10,
        filterParams='{"score": "score"}',
    ).filter("score > 40.0")
    assert df.count() == sum(1 for r in ROWS if r["score"] > 40)
    assert any("score__gte=40" in s for s in SEEN_QUERIES), SEEN_QUERIES
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "40" in plan  # Catalyst re-applies the strict predicate


def test_undeclared_filter_stays_post_scan(spark, filtering_url):
    """Filters on columns without a declared param never reach the
    request; Catalyst applies them post-scan (reference behavior)."""
    df = _read(spark, filtering_url, startPage=1, endPage=10, pageSize=10).filter("id >= 95")
    assert df.count() == 6
    assert not any("id" in s.split("&")[0] for s in SEEN_QUERIES if "id__" in s)


# -------------------- lossy-coercion guard (first-page schema freeze)

WIDEN_PAGES = {
    1: [{"wid": 1, "amt": 10, "meta": {"x": 1}}],
    2: [{"wid": 2, "amt": 30.5, "meta": {"x": 2.75}}, {"wid": 3, "amt": None, "meta": None}],
    3: [{"wid": 4, "amt": 7.0, "meta": {"x": 3}}],
}


class _WidenHandler(BaseHTTPRequestHandler):
    def log_message(self, *args):
        pass

    def do_GET(self):  # noqa: N802
        q = parse_qs(urlparse(self.path).query)
        page = int(q.get("page", ["1"])[0])
        body = json.dumps(WIDEN_PAGES.get(page, [])).encode()
        self.send_response(200)
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture(scope="module")
def widen_url(spark):
    from http_datafusion_spark.sources.datasource import register

    register(spark)
    srv = HTTPServer(("127.0.0.1", 0), _WidenHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}/widen"
    srv.shutdown()


def test_lossy_float_in_int_column_fails_loudly(spark, widen_url):
    # First page freezes amt as bigint; page 2 carries 30.5. Silent
    # truncation to 30 is data corruption — the read must fail with the
    # remedy in the message, mirroring (but improving on) the
    # reference's error-at-batch-read quirk (src/execution.rs:183-200).
    df = _read(spark, widen_url, startPage=1, endPage=2, pageSize=1)
    assert "amt:bigint" in df.schema.simpleString()
    with pytest.raises(Exception, match="type widening"):
        df.collect()


def test_lossy_float_in_nested_int_field_fails_loudly(spark, widen_url):
    # the same guard one level down: meta.x inferred bigint, page 2
    # carries 2.75 inside the struct
    df = (
        spark.read.format("httpjson")
        .schema("wid bigint, meta struct<x: bigint>")
        .option("url", widen_url)
        .option("startPage", 1)
        .option("endPage", 2)
        .option("pageSize", 1)
        .load()
    )
    with pytest.raises(Exception, match="type widening"):
        df.collect()


def test_integral_float_passes_losslessly(spark, widen_url):
    # 7.0 in a bigint column is lossless — must pass, as 7
    df = _read(spark, widen_url, startPage=3, endPage=3, pageSize=1)
    assert [r.amt for r in df.collect()] == [7]


def test_explicit_double_schema_is_the_widening_path(spark, widen_url):
    # the remedy the error message names: declare the column DOUBLE
    df = (
        spark.read.format("httpjson")
        .schema("wid bigint, amt double")
        .option("url", widen_url)
        .option("startPage", 1)
        .option("endPage", 2)
        .option("pageSize", 1)
        .load()
    )
    got = {r.wid: r.amt for r in df.collect()}
    assert got == {1: 10.0, 2: 30.5, 3: None}


# -------------------- nested values pass through the reader unchanged

NESTED_ROWS = [
    {"nid": 1, "meta": {"src": "api", "w": 2.5, "n": 3, "inner": {"k": "v"}}, "tags": ["a", "b"]},
    {"nid": 2, "meta": {"src": "feed", "w": 1.0, "n": 4, "inner": {"k": "u"}}, "tags": []},
]


class _NestedHandler(BaseHTTPRequestHandler):
    def log_message(self, *args):
        pass

    def do_GET(self):  # noqa: N802
        q = parse_qs(urlparse(self.path).query)
        body = json.dumps(NESTED_ROWS if q.get("page", ["1"])[0] == "1" else []).encode()
        self.send_response(200)
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture(scope="module")
def nested_url(spark):
    from http_datafusion_spark.sources.datasource import register

    register(spark)
    srv = HTTPServer(("127.0.0.1", 0), _NestedHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}/nested"
    srv.shutdown()


def test_nested_object_and_string_list_round_trip(spark, nested_url):
    """A nested object (an integer leaf, float and string leaves, a
    struct inside it) and a string list come out of the reader with
    their values intact, inferred and with a schema that lists only
    some struct keys."""
    df = _read(spark, nested_url, startPage=1, endPage=1, pageSize=2)
    got = {
        r.nid: (r.meta.src, r.meta.w, r.meta.n, r.meta.inner.k, r.tags)
        for r in df.collect()
    }
    assert got == {1: ("api", 2.5, 3, "v", ["a", "b"]), 2: ("feed", 1.0, 4, "u", [])}

    narrow = (
        spark.read.format("httpjson")
        .schema("nid bigint, meta struct<src: string>, tags array<string>")
        .option("url", nested_url)
        .option("startPage", 1)
        .option("endPage", 1)
        .option("pageSize", 2)
        .load()
    )
    assert {r.nid: (r.meta.src, r.tags) for r in narrow.collect()} == {
        1: ("api", ["a", "b"]),
        2: ("feed", []),
    }
