"""Oracle-checked HTTP-ingest round-trip — gives the bespoke ingest
layer (SURVEY §2.1) a driver CORRECTNESS row, not just unit tests.

The query serves the ``nation`` parquet table from an in-process HTTP
server (paginated JSON, the reference's wire format — reference
src/datasources.rs:139-142), ingests it back through the
``httpjson`` STREAMING source (page-number offsets, 2 pages per
trigger), materializes via a memory sink, and returns the result. The
DuckDB oracle is simply ``SELECT ... FROM nation``: if pagination,
termination, schema handling, or offset tracking drop or duplicate a
single row, the value hash diverges.

The server is driver-local and exists only for the duration of the
call — the ingest itself runs through the exact code path a real
endpoint would use.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession

from http_datafusion_spark.plans.registry import query
from http_datafusion_spark.plans.tables import load_tables
from http_datafusion_spark.streaming.queries import run_to_memory

PAGE_SIZE = 10
PAGES_PER_TRIGGER = 2


def _serve_rows(rows: list[dict]) -> HTTPServer:
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # noqa: D102
            pass

        def do_GET(self):  # noqa: N802
            q = parse_qs(urlparse(self.path).query)
            page = int(q.get("page", ["1"])[0])
            size = int(q.get("limit", [str(PAGE_SIZE)])[0])
            body = json.dumps(rows[(page - 1) * size : page * size]).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


@query(
    "http_ingest_nation",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
    doc="HTTP ingest round-trip (SURVEY §2.1 driver row): nation served as paginated JSON, re-ingested via the streaming httpjson source (2 pages/trigger), hash-checked against the parquet original — pagination/termination/offset bugs flip the hash",
    tags=("ingest", "streaming"),
)
def http_ingest_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.sources.datasource import register

    n = load_tables(spark, sf_dir, "nation")["nation"]
    rows = [r.asDict() for r in n.orderBy("n_nationkey").collect()]  # 25-row dim table
    srv = _serve_rows(rows)
    try:
        register(spark)
        stream = (
            spark.readStream.format("httpjson")
            .schema("n_nationkey int, n_name string, n_regionkey int")
            .option("url", f"http://127.0.0.1:{srv.server_port}/nation")
            .option("pageSize", str(PAGE_SIZE))
            .option("maxPagesPerTrigger", str(PAGES_PER_TRIGGER))
            .load()
        )
        return run_to_memory(stream, "append")
    finally:
        srv.shutdown()
