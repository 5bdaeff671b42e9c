"""Config-driven runner — the Spark analogue of the reference binary.

Reference flow (src/main.rs:25-46): read config.yaml -> one shared
SessionContext -> per source: ingest HTTP JSON + register table ->
if the source declares ``sql:``, execute it and print the full result.

Differences, on purpose:
- pagination declared in config is honored (the reference binary
  hard-wires it off at src/main.rs:41);
- DataFusion's ``show()`` prints ALL rows; Spark's defaults to 20, so
  ``show_all`` collects the result once and renders every row locally.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from http_datafusion_spark.config import Config, Source, load_config
from http_datafusion_spark.errors import QueryError
from http_datafusion_spark.session import get_spark
from http_datafusion_spark.sources.http_json import register_http_table


@dataclass
class SourceResult:
    source: Source
    table: DataFrame
    result: DataFrame | None  # None when the source declares no sql


def pushable_limit(sql: str | None, table: str) -> int | None:
    """LIMIT n from a source's SQL when — and only when — capping the
    page fetch cannot change the answer (SURVEY §4.2's custom extra:
    the reference declares-then-declines scan pushdown,
    src/datasources.rs:386-388; here it is real).

    Deliberately conservative: the whole statement must be exactly
    ``SELECT <plain projection> FROM <this source> LIMIT n``. Any
    WHERE/JOIN/GROUP/ORDER/OFFSET/set-op — or any parenthesis in the
    select list (aggregates, subqueries) — needs the full row set, so
    those return None and every page is fetched as before.

    ``LIMIT 0`` pushes 1: the first page still gives the table its
    columns, and Spark applies the exact limit.
    """
    if not sql:
        return None
    m = re.fullmatch(
        r"\s*select\s+(?P<cols>[^()]+?)\s+from\s+(?P<tbl>\w+)\s+limit\s+(?P<n>\d+)\s*;?\s*",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if not m or m.group("tbl").lower() != table.lower():
        return None
    forbidden = ("where", "join", "group", "order", "having", "union", "intersect", "except", "distinct", "offset")
    if any(re.search(rf"\b{kw}\b", m.group("cols"), re.IGNORECASE) for kw in forbidden):
        return None
    return max(int(m.group("n")), 1)


def run_source(
    spark: SparkSession, source: Source, via_datasource: bool = False
) -> SourceResult:
    pag = source.pagination
    max_rows = pushable_limit(source.sql, source.name)
    if via_datasource and pag is not None and pag.end_page is not None:
        # Scale-out path: known page range => parallel fetch on executors
        # (sources/datasource.py) instead of driver-side staging, in at
        # most one contiguous page range per core: a task wave beyond
        # the core count costs more than its pages take to fetch.
        from http_datafusion_spark.sources.datasource import register

        register(spark)
        reader = (
            spark.read.format("httpjson")
            .option("url", source.url)
            .option("method", source.method)
            .option("startPage", pag.start_page)
            .option("endPage", pag.end_page)
            .option("pageSize", pag.effective_page_size)
            .option("pageParam", pag.page_param)
            .option("pageSizeParam", pag.page_size_param)
            .option("numPartitions", spark.sparkContext.defaultParallelism)
        )
        if max_rows is not None:
            reader = reader.option("maxRows", max_rows)
        if source.headers:
            import json as _json

            reader = reader.option("headersJson", _json.dumps(source.headers))
        if source.body is not None:
            import json as _json

            reader = reader.option("bodyJson", _json.dumps(source.body))
        table = reader.load()
        table.createOrReplaceTempView(source.name)
    else:
        table = register_http_table(
            spark,
            url=source.url,
            method=source.method,
            table_name=source.name,
            paging=source.paging,
            max_rows=max_rows,
            headers=source.headers,
            json_body=source.body,
        )
    result: DataFrame | None = None
    if source.sql:
        try:
            result = spark.sql(source.sql)
        except Exception as e:  # noqa: BLE001 — surface as engine taxonomy
            raise QueryError(f"source {source.name!r}: {e}") from e
    return SourceResult(source=source, table=table, result=result)


def show_all(df: DataFrame) -> None:
    """Print every row, Spark-show style, executing the plan ONCE.

    DataFusion's ``show()`` prints the whole result (src/main.rs:44);
    Spark's ``df.show(df.count())`` would match the output but executes
    the uncached plan twice (count job + show job). Collect once and
    render the same grid locally instead.
    """
    rows = df.collect()
    cols = df.columns
    cells = [[("NULL" if v is None else str(v)) for v in row] for row in rows]
    widths = [max(len(c), *(len(r[i]) for r in cells)) if cells else len(c) for i, c in enumerate(cols)]
    sep = "+" + "+".join("-" * w for w in widths) + "+"
    print(sep)
    print("|" + "|".join(c.ljust(w) for c, w in zip(cols, widths)) + "|")
    print(sep)
    for r in cells:
        print("|" + "|".join(v.ljust(w) for v, w in zip(r, widths)) + "|")
    print(sep)


def run(
    config: Config,
    spark: SparkSession | None = None,
    show: bool = True,
    via_datasource: bool = False,
) -> list[SourceResult]:
    """Execute every source in order against one shared session
    (reference src/main.rs:34-46). ``via_datasource=True`` routes
    bounded-pagination sources through the parallel httpjson reader."""
    spark = spark or get_spark()
    results = []
    for source in config.sources:
        res = run_source(spark, source, via_datasource=via_datasource)
        if show and res.result is not None:
            # DataFusion show() prints all rows (SURVEY §2.1 sink row).
            # One execution: show(count()) would run the plan twice
            # (uncached HTTP-derived plans pay full query cost each time).
            show_all(res.result)
        results.append(res)
    return results


def run_config(path: str, spark: SparkSession | None = None, show: bool = True) -> list[SourceResult]:
    return run(load_config(path), spark=spark, show=show)
