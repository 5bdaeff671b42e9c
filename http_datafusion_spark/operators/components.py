"""Connected-components clustering of near-duplicate pairs — the step
between pair detection (dedup.py) and group-level dedup policy
(keep best-of-cluster rather than greedy pair pruning).

Spark side: alternating **large-star / small-star contraction**
(Kiveris et al., "Connected Components in MapReduce and Beyond"):
each round is two join+aggregate passes that re-point edges at the
minimum node seen so far, converging in O(log^2 n) rounds regardless
of component diameter — unlike plain label propagation, whose round
count is the graph diameter. Everything stays distributed:

- the fixpoint check is a 1-row aggregate digest (count + hash-sum)
  of the edge set — never a collect() of node labels, so driver
  memory is O(1) in graph size;
- ``localCheckpoint(eager=True)`` after each round cuts lineage so
  plan depth stays flat across iterations.

Oracle: transitive closure via a recursive CTE, min over the closure —
trivially correct, only viable because the candidate graph is small;
the point of the Spark formulation is that it is NOT bounded by
closure size.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from http_datafusion_spark.operators.dedup import _minhash_pairs_sql, dedup_minhash_pairs
from http_datafusion_spark.functions.pinning import pin
from http_datafusion_spark.plans.registry import query

log = logging.getLogger(__name__)


def _digest(edges: DataFrame) -> tuple[int, int]:
    """Order-insensitive fingerprint of an edge set: (count, hash-sum).

    One distributed aggregate, one driver row — this is the ONLY thing
    the driver ever materializes, so the fixpoint check costs O(1)
    driver memory at any graph size.
    """
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor: order-insensitive and overflow-free (ANSI mode rejects
        # a bigint hash *sum* on large edge sets).
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).first()
    return int(row.n), int(row.h)


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(Γ(u) ∪ {u}). Emitted as (neighbor, min)."""
    adj = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = adj.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
    return (
        adj.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient each edge large→small, then connect every small-side
    neighbor (and u itself) to the minimum neighbor."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    relinked = oriented.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_link = mins.select("u", F.col("m").alias("v"))
    return relinked.union(self_link).filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 30
) -> DataFrame:
    """Large-star/small-star contraction over an undirected edge list.

    Returns (node, component) where component = min node id reachable.
    Raises RuntimeError if ``max_iter`` rounds pass without convergence
    (each round shrinks the star forest; O(log^2 n) rounds suffice, so
    exhaustion means something is genuinely wrong — never return
    silently-unconverged labels).
    """
    # Checkpoint the caller's edge list FIRST: `nodes` used to read the
    # raw `edges` frame, so the final centers anti-join re-derived the
    # caller's whole candidate pipeline in every CC consumer's plan
    # (the scan audit's 9-10x class for CC-based queries). One
    # materialization; nodes and the contraction both read it.
    # DISK_ONLY (the sf25 memory cliff): the edge frames are the
    # LARGEST pinned data in the registry — on the replicated sf25
    # corpus the LSH candidate graph densifies superlinearly and eager
    # MEMORY_AND_DISK checkpoint blocks competed with aggregation
    # memory in the single local JVM (AGGREGATE_OUT_OF_MEMORY below
    # 48 g). Edge blocks are written once and read
    # sequentially per round, so disk storage costs little and frees
    # the unified pool for the contraction's aggs.
    e0 = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).transform(pin, storage=StorageLevel.DISK_ONLY)
    nodes = (
        e0.select(F.col("u").alias("node"))
        .union(e0.select(F.col("v").alias("node")))
        .distinct()
    )
    # NOTE: this second checkpoint doubles the edge list's
    # executor-storage footprint back-to-back with e0 (and ARI-style
    # consumers pay it twice per run). Accepted: e0 must outlive this
    # frame anyway (the final centers anti-join reads nodes from e0,
    # including self-loop-only nodes that the u!=v filter drops), and
    # the contraction loop below replaces `e` each round — so the
    # overlap is one round's worth of deduped edges, bounded by e0
    # itself. If storage pressure ever matters, drop THIS checkpoint
    # (reads of e are already off the materialized e0, one narrow
    # filter+distinct recompute per first-round consumer).
    e = (
        e0.filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(pin, storage=StorageLevel.DISK_ONLY)
    )
    prev = _digest(e)
    for it in range(max_iter):
        e = _small_star(_large_star(e)).transform(pin, storage=StorageLevel.DISK_ONLY)
        cur = _digest(e)
        if cur == prev:
            log.debug("connected_components converged after %d rounds", it + 1)
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} rounds"
        )
    # At the fixpoint every edge points a node at its component min; the
    # min itself (and any isolated node) self-labels via the anti-join.
    labeled = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    centers = nodes.join(labeled, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return labeled.union(centers)


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_minhash_pairs_sql()}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (
      SELECT src AS node, min(dst) AS component FROM reach GROUP BY src
    )
    SELECT CAST(component AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT)  AS cluster_size
    FROM comp
    GROUP BY component
    """,
    doc="connected-components clustering of MinHash near-dup pairs: large-star/small-star contraction vs recursive-CTE oracle (north-star dedup)",
    tags=("dedup", "graph"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(pairs)
    return comp.groupBy(F.col("component").alias("cluster_id")).agg(
        F.countDistinct("node").alias("cluster_size")
    )


PR_DAMP = 0.85
PR_REST = 0.15  # literal, NOT computed 1-PR_DAMP: Python's 1-0.85 is
# 0.15000000000000002 (1 ulp off the parsed SQL literal 0.15) — the
# same constant must reach both engines
PR_ITERS = 2
PR_EDGE_MIN_SHINGLES = 8  # doc pairs sharing >= this many 3-grams are linked
PR_SHINGLE_DF_CAP = 50  # drop shingles in > this many docs BEFORE pairing:
# a shingle in f docs yields f^2 candidate pairs, so corpus-wide stop-
# shingles make the self-join quadratic in corpus size (measured 40 s at
# 10x sf); capping document frequency bounds each shingle's contribution
# and is standard LSH practice — high-df shingles carry no near-dup signal

_PR_GRAPH_SQL = """
    w AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS words
      FROM documents
    ), sh0 AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(words) - 1),
                    i -> concat(words[i], ' ', words[i+1], ' ', words[i+2]))) AS shingle
      FROM w WHERE len(words) >= 3
    ), keep AS (
      SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= {dfcap}
    ), sh AS (
      SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)
    ), prs AS (
      SELECT a.doc_id AS da, b.doc_id AS db
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= {thr}
    ), edges AS (
      SELECT da AS src, db AS dst FROM prs UNION ALL SELECT db, da FROM prs
    ), deg AS (
      SELECT src, CAST(count(*) AS DOUBLE) AS d FROM edges GROUP BY src
    ), nn AS (
      SELECT CAST(count(DISTINCT src) AS DOUBLE) AS n FROM edges
    )
"""

_PR_STEP_SQL = """
    {next} AS (
      SELECT e.dst AS node,
             CAST(sum(CAST(round(p.p / deg.d * CAST({damp} AS DOUBLE), 15) AS DECIMAL(28,15))) AS DOUBLE)
               + CAST({rest} AS DOUBLE) / (SELECT n FROM nn) AS p
      FROM edges e
      JOIN {prev} p ON e.src = p.node
      JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    )
"""


@query(
    "graph_pagerank",
    oracle=f"""
    WITH {_PR_GRAPH_SQL.format(thr=PR_EDGE_MIN_SHINGLES, dfcap=PR_SHINGLE_DF_CAP)},
    p0 AS (
      SELECT src AS node, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS p FROM deg
    ),
    {_PR_STEP_SQL.format(next='p1', prev='p0', damp=PR_DAMP, rest=PR_REST)},
    {_PR_STEP_SQL.format(next='p2', prev='p1', damp=PR_DAMP, rest=PR_REST)}
    SELECT node, round(p, 9) AS rank
    FROM p2 ORDER BY p DESC, node LIMIT 20
    """,
    doc=f"PageRank ({PR_ITERS} exact iterations, damping {PR_DAMP}) over the shingle-sharing doc graph (pairs with >={PR_EDGE_MIN_SHINGLES} common 3-grams): per-neighbor contributions quantized to DECIMAL(28,15) so every iteration's ranks are bit-identical across engines — iterative graph centrality with a value-exact oracle (graph extension)",
    tags=("graph", "dedup"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank as pure joins+aggregates, one shuffle per iteration —
    the contribution sum is partial-aggregable, state is one (node, p)
    column, so iterations scale like any groupBy at 100 TB (same
    regime as the large-star contraction above). The undirected graph
    has no dangling nodes (every node's in-neighbors = out-neighbors),
    so no dangling-mass correction term is needed."""
    from http_datafusion_spark.operators.dedup import shingled_docs

    sh0 = shingled_docs(spark, sf_dir)
    keep = sh0.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= PR_SHINGLE_DF_CAP
    )
    sh = sh0.join(keep.select("shingle"), "shingle").transform(pin)
    prs = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("nc"))
        .filter(F.col("nc") >= PR_EDGE_MIN_SHINGLES)
        .select("da", "db")
    )
    edges = (
        prs.select(F.col("da").alias("src"), F.col("db").alias("dst"))
        .union(prs.select(F.col("db").alias("src"), F.col("da").alias("dst")))
        .transform(pin)  # computed once; reused every iteration
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("d"))
    n = edges.select("src").distinct().count()  # scalar: one number, not node state
    p = deg.select("src", (F.lit(1.0) / n).alias("p")).withColumnRenamed("src", "node")
    for _ in range(PR_ITERS):
        contrib = F.round(F.col("p") / F.col("d") * F.lit(PR_DAMP), 15).cast("decimal(28,15)")
        p = (
            edges.join(p, edges["src"] == p["node"])
            .join(deg, "src")
            .select(F.col("dst"), contrib.alias("c"))
            .groupBy("dst")
            .agg((F.sum("c").cast("double") + F.lit(PR_REST) / n).alias("p"))
            .withColumnRenamed("dst", "node")
        )
    return (
        p.orderBy(F.col("p").desc(), F.col("node"))
        .limit(20)
        .select("node", F.round("p", 9).alias("rank"))
    )


# ----------------------------------------------- PageRank (power iteration)

PR_DAMP = 0.85
PR_TOPK = 10


@query(
    "graph_pagerank_suppliers",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    nc AS (SELECT CAST(count(DISTINCT c) AS BIGINT) AS n FROM e),
    ns AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS n FROM e),
    degc AS (SELECT c, CAST(count(*) AS BIGINT) AS dc FROM e GROUP BY c),
    degs AS (SELECT s, CAST(count(*) AS BIGINT) AS ds FROM e GROUP BY s),
    q0 AS (
      SELECT d.c,
             CAST(round(round(1.0 / nc.n, 12) / d.dc, 12) AS DECIMAL(28,12)) AS q
      FROM degc d CROSS JOIN nc
    ),
    r1s AS (
      SELECT e.s,
             CAST(round({1 - PR_DAMP} / ns.n
                        + {PR_DAMP} * CAST(sum(q.q) AS DOUBLE), 12)
                  AS DECIMAL(28,12)) AS r
      FROM e JOIN q0 q ON e.c = q.c CROSS JOIN ns GROUP BY e.s, ns.n
    ),
    q1 AS (
      SELECT d.s, CAST(round(CAST(r.r AS DOUBLE) / d.ds, 12) AS DECIMAL(28,12)) AS q
      FROM degs d JOIN r1s r ON d.s = r.s
    ),
    r1c AS (
      SELECT e.c,
             CAST(round({1 - PR_DAMP} / nc.n
                        + {PR_DAMP} * CAST(sum(q.q) AS DOUBLE), 12)
                  AS DECIMAL(28,12)) AS r
      FROM e JOIN q1 q ON e.s = q.s CROSS JOIN nc GROUP BY e.c, nc.n
    ),
    q2 AS (
      SELECT r.c, CAST(round(CAST(r.r AS DOUBLE) / d.dc, 12) AS DECIMAL(28,12)) AS q
      FROM r1c r JOIN degc d ON r.c = d.c
    )
    SELECT CAST(e.s AS BIGINT) AS suppkey,
           round({1 - PR_DAMP} / ns.n + {PR_DAMP} * CAST(sum(q.q) AS DOUBLE), 12)
             AS pagerank
    FROM e JOIN q2 q ON e.c = q.c CROSS JOIN ns
    GROUP BY e.s, ns.n
    ORDER BY pagerank DESC, suppkey LIMIT {PR_TOPK}
    """,
    doc=f"PageRank power iteration over the customer->supplier purchase graph "
    f"(damping {PR_DAMP}, 1.5 bipartite round-trips, top-{PR_TOPK} suppliers): "
    "each half-step is mass/out-degree contributions summed at the receiving "
    "side — a join + partial-agg shuffle on the edge relation, the textbook "
    "relational PageRank (same shape Pregel/GraphX lowers to). Per-step values "
    "are 12dp-quantized decimals so every iteration is engine-exact (the "
    "embedding_pca_power_iteration discipline applied to a graph); scalar node "
    "counts ride broadcast 1-row frames. At 100 TB: edges partition by the join "
    "key each direction, rank state is one row per node, no adjacency ever "
    "materializes driver-side; rounds scale linearly in edge count "
    "(north-star graph analytics extension)",
    tags=("graph", "agg"),
)
def graph_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.plans.tables import load_tables

    t = load_tables(spark, sf_dir, "orders", "lineitem")
    # The distinct (customer, supplier) edge list feeds seven branches
    # (counts, both degree tables, three propagation half-steps) —
    # unpinned, each re-derived the orders x lineitem join (10x fact
    # scans per table). One eager checkpoint of the
    # edge list + the two node-bounded degree tables pins the plan to
    # one scan of each fact (the _lpa_label_frame pattern).
    e = (
        t["orders"]
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .transform(pin)
    )
    nc = e.agg(F.countDistinct("c").cast("bigint").alias("nc"))
    ns = e.agg(F.countDistinct("s").cast("bigint").alias("ns"))
    degc = (
        e.groupBy("c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dc"))
        .transform(pin)
    )
    degs = (
        e.groupBy("s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ds"))
        .transform(pin)
    )
    dec = "decimal(28,12)"

    q0 = degc.crossJoin(F.broadcast(nc)).select(
        "c",
        F.round(F.round(1.0 / F.col("nc"), 12) / F.col("dc"), 12).cast(dec).alias("q"),
    )
    r1s = (
        e.join(q0, "c")
        .crossJoin(F.broadcast(ns))
        .groupBy("s", "ns")
        .agg(
            F.round(
                (1 - PR_DAMP) / F.col("ns") + PR_DAMP * F.sum("q").cast("double"), 12
            ).cast(dec).alias("r")
        )
        .select("s", "r")
    )
    q1 = degs.join(r1s, "s").select(
        "s", F.round(F.col("r").cast("double") / F.col("ds"), 12).cast(dec).alias("q")
    )
    r1c = (
        e.join(q1, "s")
        .crossJoin(F.broadcast(nc))
        .groupBy("c", "nc")
        .agg(
            F.round(
                (1 - PR_DAMP) / F.col("nc") + PR_DAMP * F.sum("q").cast("double"), 12
            ).cast(dec).alias("r")
        )
        .select("c", "r")
    )
    q2 = r1c.join(degc, "c").select(
        "c", F.round(F.col("r").cast("double") / F.col("dc"), 12).cast(dec).alias("q")
    )
    return (
        e.join(q2, "c")
        .crossJoin(F.broadcast(ns))
        .groupBy("s", "ns")
        .agg(
            F.round(
                (1 - PR_DAMP) / F.col("ns") + PR_DAMP * F.sum("q").cast("double"), 12
            ).alias("pagerank")
        )
        .select(F.col("s").cast("bigint").alias("suppkey"), "pagerank")
        .orderBy(F.desc("pagerank"), "suppkey")
        .limit(PR_TOPK)
    )


# ------------------------------------------- link prediction (Jaccard)

# Per-customer supplier fan-out cap, shared by graph_link_prediction and
# graph_triangle_count: a hub customer of degree d would otherwise
# generate d^2 wedge pairs inside ONE task (quadratic skew a single
# mega-customer dominates at 100x scale). Each customer keeps its
# TRI_DEGREE_CAP highest-degree suppliers (global degree DESC, suppkey
# tiebreak — deterministic), bounding per-customer pair fan-out at
# CAP^2 = 1024 rows. DOCUMENTED UNDERCOUNT: edges/common-neighbor counts
# supported only by truncated low-degree co-occurrences are lost; the
# cap keeps the strongest co-supply signal. 32 binds at sf0.01+, so the
# capped semantics (not just the uncapped coincidence) are
# oracle-verified.
TRI_DEGREE_CAP = 32

LINKPRED_TOPK = 15


@query(
    "graph_link_prediction",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    deg AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY s),
    ecap AS (
      SELECT c, s FROM (
        SELECT e.c, e.s,
               row_number() OVER (PARTITION BY e.c ORDER BY deg.d DESC, e.s) AS rk
        FROM e JOIN deg ON e.s = deg.s
      ) WHERE rk <= {TRI_DEGREE_CAP}
    ),
    common AS (
      SELECT a.s AS s1, b.s AS s2, CAST(count(*) AS BIGINT) AS n_common
      FROM ecap a JOIN ecap b ON a.c = b.c AND a.s < b.s
      GROUP BY 1, 2
    )
    SELECT c.s1, c.s2, c.n_common,
           round(c.n_common * 1.0 / (d1.d + d2.d - c.n_common), 6) AS jaccard
    FROM common c
    JOIN deg d1 ON c.s1 = d1.s
    JOIN deg d2 ON c.s2 = d2.s
    ORDER BY jaccard DESC, s1, s2 LIMIT {LINKPRED_TOPK}
    """,
    doc=f"link prediction on the customer-supplier bipartite graph: supplier "
    f"pairs ranked by JACCARD of their customer neighborhoods (top-{LINKPRED_TOPK}) "
    "— the classic co-occurrence link predictor (who will share customers "
    "next / who substitutes for whom), and the graph-analytics sibling of the "
    "near-dup Jaccard family. Candidates come from the co-occurrence "
    "self-join ON the shared customer, per-customer fan-out capped at the "
    "top TRI_DEGREE_CAP=32 highest-degree suppliers (the same bounded-wedge "
    "treatment as graph_triangle_count — a hub customer can no longer emit "
    "degree^2 pairs in one task; documented undercount of n_common for "
    "low-degree co-occurrences, while the Jaccard DENOMINATOR keeps true "
    "uncapped degrees); only pairs with >= 1 common neighbor ever "
    "materialize, never suppliers^2 "
    "(north-star graph analytics; pairs with graph_pagerank)",
    tags=("graph", "join", "agg"),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.plans.tables import load_tables

    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "orders", "lineitem")
    # Edge list / degrees / capped edges each feed 2-3 branches;
    # unpinned, the orders x lineitem join re-derived 6x per fact (scan
    # audit). Checkpoints pin one scan of each fact
    # (graph_pagerank_suppliers pattern).
    e = (
        t["orders"]
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .transform(pin)
    )
    deg = (
        e.groupBy("s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .transform(pin)
    )
    # degree-cap the wedge generation (see TRI_DEGREE_CAP at the triangle
    # operator): per-customer top-CAP suppliers by global degree bounds the
    # per-customer pair fan-out at CAP^2 — the denominator keeps TRUE degrees
    wcap = W.partitionBy("c").orderBy(F.desc("d"), "s")
    ecap = (
        e.join(deg, "s")
        .withColumn("rk", F.row_number().over(wcap))
        .filter(F.col("rk") <= TRI_DEGREE_CAP)
        .select("c", "s")
        .transform(pin)  # <= CAP x |customers| rows; both join sides
    )
    a, b = ecap.alias("a"), ecap.alias("b")
    common = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("d").alias("d2"))
    # d1/d2 are per-supplier degrees — supplier-LINEAR (10k x SF), so no
    # baked-in broadcast hints; AQE broadcasts only when runtime-small.
    return (
        common.join(d1, "s1")
        .join(d2, "s2")
        .select(
            "s1",
            "s2",
            "n_common",
            F.round(
                F.col("n_common") * 1.0 / (F.col("d1") + F.col("d2") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "s1", "s2")
        .limit(LINKPRED_TOPK)
    )


# ------------------------------------------------- golden-record merge


@query(
    "golden_record_merge",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_minhash_pairs_sql()}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (
      SELECT src AS node, min(dst) AS component FROM reach GROUP BY src
    ),
    members AS (
      SELECT c.component, d.doc_id, d.lang, d.source, d.n_chars
      FROM comp c JOIN documents d ON c.node = d.doc_id
    ),
    lang_votes AS (
      SELECT component, lang, CAST(count(*) AS BIGINT) AS v
      FROM members GROUP BY 1, 2
    ),
    lang_pick AS (
      SELECT component, lang AS majority_lang
      FROM (SELECT component, lang,
                   row_number() OVER (PARTITION BY component
                                      ORDER BY v DESC, lang) AS rk
            FROM lang_votes)
      WHERE rk = 1
    ),
    golden AS (
      SELECT m.component,
             CAST(count(*) AS BIGINT)                 AS n_members,
             CAST(min(m.doc_id) AS BIGINT)            AS survivor_id,
             CAST(min(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS golden_text_doc,
             CAST(count(DISTINCT m.lang) AS BIGINT)   AS n_lang_values,
             CAST(count(DISTINCT m.source) AS BIGINT) AS n_source_values
      FROM (SELECT *, row_number() OVER (PARTITION BY component
                                         ORDER BY n_chars DESC, doc_id) AS rk
            FROM members) m
      GROUP BY m.component
    )
    SELECT CAST(g.component AS BIGINT) AS cluster_id,
           g.n_members, g.survivor_id, g.golden_text_doc,
           l.majority_lang, g.n_lang_values, g.n_source_values,
           (g.n_lang_values > 1 OR g.n_source_values > 1) AS has_conflicts
    FROM golden g JOIN lang_pick l ON g.component = l.component
    """,
    doc="golden-record merge — the survivorship step after entity resolution: "
    "each near-dup cluster collapses to ONE record under per-field policies "
    "(id: min member; text: longest-wins; lang: majority vote with "
    "deterministic tiebreak), with per-field conflict counts so data stewards "
    "see what the policies overrode — dedup_cluster_representatives picks a "
    "row, this CONSTRUCTS one field-by-field, which is what MDM systems "
    "actually ship. Policies are per-cluster aggregates over cluster-bounded "
    "groups; the clustering itself is the scalable large-star/small-star "
    "contraction (north-star pipeline / master data management)",
    tags=("dedup", "pipeline"),
)
def golden_record_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from http_datafusion_spark.plans.tables import load_tables

    pairs = dedup_minhash_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(pairs)
    d = load_tables(spark, sf_dir, "documents")["documents"]
    # members (one row per clustered doc) feeds the lang-vote and the
    # per-field survivorship branches; unpinned, each re-derived the
    # pair pipeline + documents join (10x docs scans).
    members = (
        comp.join(d, comp["node"] == d["doc_id"])
        .select("component", "doc_id", "lang", "source", "n_chars")
        .transform(pin)
    )
    votes = members.groupBy("component", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    )
    lrk = F.row_number().over(W.partitionBy("component").orderBy(F.desc("v"), "lang"))
    lang_pick = (
        votes.withColumn("rk", lrk)
        .filter(F.col("rk") == 1)
        .select("component", F.col("lang").alias("majority_lang"))
    )
    trk = F.row_number().over(
        W.partitionBy("component").orderBy(F.desc("n_chars"), "doc_id")
    )
    golden = (
        members.withColumn("rk", trk)
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("doc_id").cast("bigint").alias("survivor_id"),
            F.min(F.when(F.col("rk") == 1, F.col("doc_id")))
            .cast("bigint")
            .alias("golden_text_doc"),
            F.countDistinct("lang").cast("bigint").alias("n_lang_values"),
            F.countDistinct("source").cast("bigint").alias("n_source_values"),
        )
    )
    return golden.join(lang_pick, "component").select(
        F.col("component").cast("bigint").alias("cluster_id"),
        "n_members",
        "survivor_id",
        "golden_text_doc",
        "majority_lang",
        "n_lang_values",
        "n_source_values",
        ((F.col("n_lang_values") > 1) | (F.col("n_source_values") > 1)).alias("has_conflicts"),
    )


# --------------------------------------------------- triangle counting

TRI_MIN_COMMON = 3  # co-supply edge: suppliers sharing >= T customers


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    sdeg AS (SELECT s, CAST(count(*) AS BIGINT) AS sd FROM e GROUP BY s),
    ecap AS (
      SELECT c, s FROM (
        SELECT e.c, e.s,
               row_number() OVER (PARTITION BY e.c ORDER BY sdeg.sd DESC, e.s) AS rk
        FROM e JOIN sdeg ON e.s = sdeg.s
      ) WHERE rk <= {TRI_DEGREE_CAP}
    ),
    edges AS (
      SELECT a.s AS u, b.s AS v
      FROM ecap a JOIN ecap b ON a.c = b.c AND a.s < b.s
      GROUP BY 1, 2 HAVING count(*) >= {TRI_MIN_COMMON}
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1
      JOIN edges e2 ON e1.v = e2.u
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           CAST(count(*) AS BIGINT)                     AS n_triangles,
           round(CASE WHEN (SELECT count(*) FROM edges) >= 3
                 THEN count(*) * 3.0 / (SELECT count(*) FROM edges) ELSE 0 END, 6)
             AS triangles_per_edge
    FROM tri
    """,
    doc=f"triangle counting on the supplier co-supply graph (edge: >= "
    f"{TRI_MIN_COMMON} shared customers, per-customer fan-out capped at the "
    "top TRI_DEGREE_CAP=32 highest-degree suppliers — bounds the wedge "
    "generation at CAP^2 per customer so a hub customer cannot dominate one "
    "task; documented undercount of low-degree co-occurrence edges): the "
    "ordered-wedge join — edges kept as u < v, wedges (u,v)x(v,w) closed by "
    "probing (u,w) — counts each triangle exactly once, the standard "
    "distributed formulation whose cost is sum-of-degree-squared wedges "
    "(now degree-capped), never nodes^3; triangles-per-edge is "
    "the global clustering signal (cliquey co-supply communities vs a "
    "hub-and-spoke market). Completes the graph family: components "
    "(dedup_clusters), centrality (pagerank), link prediction, now closure "
    "structure (north-star graph analytics)",
    tags=("graph", "join", "agg"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.plans.tables import load_tables

    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "orders", "lineitem")
    e = (
        t["orders"]
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # degree-cap the wedge generation (see TRI_DEGREE_CAP): per-customer
    # top-CAP suppliers by global degree, so no single hot customer can
    # produce a quadratic pair blow-up in one task
    sdeg = e.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("sd"))
    wcap = W.partitionBy("c").orderBy(F.desc("sd"), "s")
    e = (
        e.join(sdeg, "s")
        .withColumn("rk", F.row_number().over(wcap))
        .filter(F.col("rk") <= TRI_DEGREE_CAP)
        .select("c", "s")
    )
    a, b = e.alias("a"), e.alias("b")
    edges = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .agg(F.count(F.lit(1)).alias("nc"))
        .filter(F.col("nc") >= TRI_MIN_COMMON)
        .select("u", "v")
        .transform(pin)  # three join branches reuse it
    )
    e1 = edges.select(F.col("u").alias("t_a"), F.col("v").alias("t_b"))
    e2 = edges.select(F.col("u").alias("w_b"), F.col("v").alias("t_c"))
    e3 = edges.select(F.col("u").alias("c_a"), F.col("v").alias("c_c"))
    tri = (
        e1.join(e2, F.col("t_b") == F.col("w_b"))
        .join(e3, (F.col("c_a") == F.col("t_a")) & (F.col("c_c") == F.col("t_c")))
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("ne"))
    return (
        tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
        .crossJoin(F.broadcast(n_edges))
        .select(
            F.col("ne").alias("n_edges"),
            "n_triangles",
            F.round(
                F.when(F.col("ne") >= 3, F.col("n_triangles") * 3.0 / F.col("ne")).otherwise(
                    0.0
                ),
                6,
            ).alias("triangles_per_edge"),
        )
    )


# ------------------------------------------------ k-core decomposition

# Fixed-round k-core peel on the minhash NEAR-DUP graph (nodes = docs,
# edges = LSH candidate pairs with signature agreement >= 1/2): each
# round removes every doc whose degree in the CURRENT graph is < 
# KCORE_K, then drops the incident edges. Surviving nodes after the
# rounds are the DENSE duplication communities (template/boilerplate
# families), separated from incidental one-off pair matches — the
# graph-side refinement of dedup_clusters. KCORE_ROUNDS is a fixed
# constant (bounded iteration, the BPE-merge discipline) so the op is
# deterministic and SQL-mirrorable; a full decomposition at scale
# loops the same round body to the digest fixpoint (_digest above).
KCORE_K = 2
KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    from http_datafusion_spark.operators.dedup import _minhash_pairs_sql

    rounds_cte, rows = [], []
    for i in range(1, KCORE_ROUNDS + 1):
        p = i - 1
        rounds_cte.append(f"""
    d{i} AS (
      SELECT node, CAST(count(*) AS BIGINT) AS dg FROM (
        SELECT u AS node FROM e{p} UNION ALL SELECT v AS node FROM e{p}
      ) GROUP BY node
    ),
    w{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE dg < {KCORE_K}),
    e{i} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{p} e
      LEFT JOIN w{i} wu ON e.u = wu.node
      LEFT JOIN w{i} wv ON e.v = wv.node
      WHERE wu.node IS NULL AND wv.node IS NULL
    )""")
        rows.append(f"""
    SELECT CAST({i} AS BIGINT) AS round,
           (SELECT CAST(count(*) AS BIGINT) FROM w{i}) AS n_removed,
           (SELECT CAST(count(DISTINCT node) AS BIGINT) FROM (
              SELECT u AS node FROM e{i} UNION ALL SELECT v AS node FROM e{i}))
             AS nodes_after,
           (SELECT CAST(count(*) AS BIGINT) FROM e{i}) AS edges_after
    """)
    return (
        f"WITH e0 AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM ({_minhash_pairs_sql()})),"
        + ",".join(rounds_cte)
        + " SELECT * FROM (" + " UNION ALL ".join(rows) + ") ORDER BY round"
    )


@query(
    "graph_kcore_rounds",
    oracle=_kcore_oracle(),
    doc=f"k-core peel (k={KCORE_K}, {KCORE_ROUNDS} fixed rounds) on the "
    "minhash near-dup graph (nodes = docs, edges = verified LSH candidate "
    "pairs): each round drops every node with current degree < k plus its "
    "incident edges, reporting removals and surviving nodes/edges per "
    "round — peeling isolates the DENSE duplication communities "
    "(template/boilerplate families) from incidental pair matches, the "
    "graph-side refinement of dedup_clusters (k-core: Seidman 1983, "
    "public). Each round is one degree aggregation + two anti joins, all "
    "key-partitioned; the edge set shrinks monotonically (lineage-cut per "
    "round); the full decomposition at scale runs this round body to the "
    "O(1)-driver digest fixpoint rather than a fixed count. Fixed rounds "
    "keep the operator deterministic and oracle-mirrorable "
    "(north-star graph analytics / dedup)",
    tags=("graph", "dedup", "join", "agg"),
)
def graph_kcore_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.dedup import dedup_minhash_pairs

    edges = (
        dedup_minhash_pairs(spark, sf_dir)
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        # iterative lineage cut (same pattern as connected components):
        # without it every round re-derives the LSH candidate join and
        # the per-round stats re-derive every earlier round.
        .transform(pin)
    )
    out = None
    for i in range(1, KCORE_ROUNDS + 1):
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("dg"))
        )
        weak = deg.filter(F.col("dg") < KCORE_K).select("node")
        edges = (
            edges.join(weak, edges["u"] == weak["node"], "left_anti")
            .join(weak, edges["v"] == weak["node"], "left_anti")
            .transform(pin)
        )
        nodes_after = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .agg(F.countDistinct("node").cast("bigint").alias("nodes_after"))
        )
        row = (
            weak.agg(F.count(F.lit(1)).cast("bigint").alias("n_removed"))
            .crossJoin(nodes_after)
            .crossJoin(edges.agg(F.count(F.lit(1)).cast("bigint").alias("edges_after")))
            .select(
                F.lit(i).cast("bigint").alias("round"),
                "n_removed",
                "nodes_after",
                "edges_after",
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("round")


# ------------------------------------------- label propagation (LPA)

LPA_ROUNDS = 3  # fixed synchronous rounds — deterministic, SQL-unrollable


def _lpa_round_sql(i: int) -> str:
    """One synchronous LPA round as CTEs: neighbor-label vote counts,
    then argmax per node (ties to the smallest label)."""
    return f"""
    v{i} AS (
      SELECT e.u AS node, l.lab, CAST(count(*) AS BIGINT) AS c
      FROM edges e JOIN l{i - 1} l ON l.node = e.v
      GROUP BY 1, 2
    ),
    l{i} AS (
      SELECT node, lab FROM (
        SELECT node, lab,
               row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rk
        FROM v{i}) WHERE rk = 1
    )"""


@query(
    "graph_label_propagation",
    oracle=f"""
    WITH pairs AS ({_minhash_pairs_sql()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    l0 AS (SELECT DISTINCT u AS node, u AS lab FROM edges),
    {",".join(_lpa_round_sql(i) for i in range(1, LPA_ROUNDS + 1))}
    SELECT CAST(lab AS BIGINT)      AS community_id,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM l{LPA_ROUNDS}
    GROUP BY lab
    ORDER BY community_id
    """,
    doc=f"label-propagation communities (Raghavan et al. 2007, public) "
    f"over the MinHash-LSH candidate graph: {LPA_ROUNDS} SYNCHRONOUS "
    f"rounds, each node adopting its neighbors' majority label (ties "
    f"to the smallest label, init = own id) — fully deterministic, so "
    f"the oracle unrolls the same rounds as SQL CTEs and matches "
    f"value-exactly (the async/random-order variants of LPA are not "
    f"reproducible; the sync+min-tie form is the standard determinized "
    f"one). Finds denser communities than the connected components of "
    f"dedup_clusters (a chain of weak links is one CC but splits under "
    f"LPA). Scale shape: per round ONE edges-by-label equi-join + a "
    f"(node,label) partial agg + a node-keyed top-1 (WindowGroupLimit "
    f"prunes map-side); {LPA_ROUNDS} rounds statically unrolled — no "
    f"driver-side iteration or collect (north-star graph / dedup)",
    tags=("graph", "dedup"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pairs, _edges, labels = _lpa_label_frame(spark, sf_dir)
    return (
        labels.groupBy(F.col("lab").cast("bigint").alias("community_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .orderBy("community_id")
    )


def _lpa_label_frame(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(pairs, symmetric checkpointed edges, node->lab after LPA_ROUNDS
    synchronous rounds) — shared by graph_label_propagation and
    graph_modularity_score so partition and score see the SAME rounds."""
    from pyspark.sql.window import Window as W

    from http_datafusion_spark.operators.dedup import dedup_minhash_pairs

    pairs = dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # One materialization of the LSH candidate edges (LSH-bounded, 2
    # ints/row): every unrolled round joins against it — without the
    # cut each of the 3 rounds re-derives the full shingle->minhash->
    # band lineage (the .explain audit counted 16 document scans).
    # DISK_ONLY for the same sf25 memory-cliff reason as
    # connected_components' edge pins (see the comment there).
    pairs = pairs.transform(pin, storage=StorageLevel.DISK_ONLY)
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).unionAll(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    labels = edges.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    rk = F.row_number().over(W.partitionBy("node").orderBy(F.desc("c"), F.asc("lab")))
    for _ in range(LPA_ROUNDS):
        votes = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy(edges["u"].alias("node"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = votes.withColumn("rk", rk).filter(F.col("rk") == 1).select("node", "lab")
    return pairs, edges, labels


@query(
    "graph_modularity_score",
    oracle=f"""
    WITH pairs AS ({_minhash_pairs_sql()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    l0 AS (SELECT DISTINCT u AS node, u AS lab FROM edges),
    {",".join(_lpa_round_sql(i) for i in range(1, LPA_ROUNDS + 1))},
    lab AS (SELECT node, CAST(lab AS BIGINT) AS lab FROM l{LPA_ROUNDS}),
    mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
    w AS (
      SELECT la.lab AS community_id, CAST(count(*) AS BIGINT) AS m_within
      FROM pairs p
      JOIN lab la ON p.doc_a = la.node
      JOIN lab lb ON p.doc_b = lb.node
      WHERE la.lab = lb.lab GROUP BY 1
    ),
    d AS (
      SELECT la.lab AS community_id,
             CAST(count(*) AS BIGINT) AS d_sum,
             CAST(count(DISTINCT e.u) AS BIGINT) AS n_nodes
      FROM edges e JOIN lab la ON e.u = la.node GROUP BY 1
    ),
    per AS (
      SELECT d.community_id, d.n_nodes,
             coalesce(w.m_within, 0) AS m_within, d.d_sum,
             CAST(round(coalesce(w.m_within, 0) * 1.0 / mm.m
                        - (d.d_sum * 1.0 / (2 * mm.m))
                          * (d.d_sum * 1.0 / (2 * mm.m)), 12)
                  AS DECIMAL(18,12)) AS qc
      FROM d LEFT JOIN w ON d.community_id = w.community_id CROSS JOIN mm
    )
    SELECT community_id, n_nodes, m_within, d_sum,
           round(CAST(qc AS DOUBLE), 6) AS q_contrib,
           round(CAST(sum(qc) OVER () AS DOUBLE), 6) AS modularity
    FROM per ORDER BY community_id
    """,
    doc=f"Newman-Girvan modularity Q of the LPA partition (Newman & "
    f"Girvan 2004 Phys Rev E; Newman 2006 PNAS): Q = sum over "
    f"communities of m_c/m - (d_c/2m)^2 with m_c the within-community "
    f"edge count and d_c the community degree sum — the standard score "
    f"of whether graph_label_propagation's {LPA_ROUNDS}-round partition "
    f"found real structure (Q near 0 = no better than random wiring at "
    f"the same degree sequence; dedup candidate graphs should score "
    f"HIGH since near-dup clusters are dense). Same unrolled synchronous "
    f"LPA rounds as the community query (shared _lpa_label_frame / SQL "
    f"CTEs, so partition and score can never drift). Scale shape: two "
    f"label-broadcast joins over the LSH-bounded pair list + per-"
    f"community aggs; contributions are 12dp-decimal quantized so the "
    f"cross-community sum is order-exact on both engines (north-star "
    f"graph / dedup)",
    tags=("graph", "dedup"),
)
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    pairs, edges, labels = _lpa_label_frame(spark, sf_dir)
    lab = labels.select("node", F.col("lab").cast("bigint").alias("lab"))
    la = lab.withColumnRenamed("node", "na").withColumnRenamed("lab", "la")
    lb = lab.withColumnRenamed("node", "nb").withColumnRenamed("lab", "lb")
    m = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    w = (
        pairs.join(la, pairs["doc_a"] == la["na"])
        .join(lb, pairs["doc_b"] == lb["nb"])
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("m_within"))
    )
    d = (
        edges.join(lab, edges["u"] == lab["node"])
        .groupBy(F.col("lab").alias("community_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("d_sum"),
            F.countDistinct("u").cast("bigint").alias("n_nodes"),
        )
    )
    per = (
        d.join(w, "community_id", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community_id",
            "n_nodes",
            F.coalesce(F.col("m_within"), F.lit(0)).cast("bigint").alias("m_within"),
            "d_sum",
            F.round(
                F.coalesce(F.col("m_within"), F.lit(0)) * F.lit(1.0) / F.col("m")
                - (F.col("d_sum") * F.lit(1.0) / (2 * F.col("m")))
                * (F.col("d_sum") * F.lit(1.0) / (2 * F.col("m"))),
                12,
            )
            .cast("decimal(18,12)")
            .alias("qc"),
        )
    )
    wall = W.orderBy(F.lit(1)).rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        per.select(
            "community_id",
            "n_nodes",
            "m_within",
            "d_sum",
            F.round(F.col("qc").cast("double"), 6).alias("q_contrib"),
            F.round(F.sum("qc").over(wall).cast("double"), 6).alias("modularity"),
        )
        .orderBy("community_id")
    )


# --------------------------------------------- HITS hubs & authorities

HITS_TOPK = 10


@query(
    "graph_hits_scores",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    ne AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
    h1 AS (
      SELECT c, CAST(round(CAST(count(*) AS DOUBLE) / ne.m, 12)
                     AS DECIMAL(28,12)) AS h
      FROM e CROSS JOIN ne GROUP BY c, ne.m
    ),
    a1r AS (
      SELECT e.s, sum(h1.h) AS ar FROM e JOIN h1 ON e.c = h1.c GROUP BY e.s
    ),
    a1n AS (SELECT CAST(sum(ar) AS DOUBLE) AS z FROM a1r),
    a1 AS (
      SELECT s, CAST(round(CAST(ar AS DOUBLE) / a1n.z, 12)
                     AS DECIMAL(28,12)) AS a
      FROM a1r CROSS JOIN a1n
    ),
    h2r AS (
      SELECT e.c, sum(a1.a) AS hr FROM e JOIN a1 ON e.s = a1.s GROUP BY e.c
    ),
    h2n AS (SELECT CAST(sum(hr) AS DOUBLE) AS z FROM h2r),
    h2 AS (
      SELECT c, CAST(round(CAST(hr AS DOUBLE) / h2n.z, 12)
                     AS DECIMAL(28,12)) AS h
      FROM h2r CROSS JOIN h2n
    ),
    a2r AS (
      SELECT e.s, sum(h2.h) AS ar FROM e JOIN h2 ON e.c = h2.c GROUP BY e.s
    ),
    a2n AS (SELECT CAST(sum(ar) AS DOUBLE) AS z FROM a2r),
    a2 AS (
      SELECT s, CAST(round(CAST(ar AS DOUBLE) / a2n.z, 12)
                     AS DECIMAL(28,12)) AS a
      FROM a2r CROSS JOIN a2n
    ),
    tops AS (
      SELECT 'authority' AS role, CAST(s AS BIGINT) AS node,
             CAST(a AS DOUBLE) AS score
      FROM a2 ORDER BY a DESC, s LIMIT {HITS_TOPK}
    ),
    toph AS (
      SELECT 'hub' AS role, CAST(c AS BIGINT) AS node,
             CAST(h AS DOUBLE) AS score
      FROM h2 ORDER BY h DESC, c LIMIT {HITS_TOPK}
    )
    SELECT role, node, round(score, 12) AS score FROM tops
    UNION ALL
    SELECT role, node, round(score, 12) AS score FROM toph
    ORDER BY role, score DESC, node
    """,
    doc=f"HITS hubs & authorities (Kleinberg 1999, JACM) over the "
    f"customer->supplier purchase bipartite graph: two full mutual-"
    f"reinforcement iterations — authority(s) = sum of hub scores of its "
    f"buyers, hub(c) = sum of authority scores of its suppliers — each "
    f"half-step L1-normalized and 12dp-decimal-quantized so every "
    f"iteration is engine-exact (the graph_pagerank_suppliers "
    f"discipline; PageRank measures one global importance, HITS "
    f"separates the two SIDES of the market — big buyers vs pivotal "
    f"suppliers). Each half-step is one join + partial-agg shuffle on "
    f"the edge relation, score state is one row per node, "
    f"normalization constants ride 1-row broadcast frames; top-"
    f"{HITS_TOPK} per role fuses to TakeOrderedAndProject. At 100 TB "
    f"rounds scale linearly in |E| like the relational PageRank",
    tags=("graph", "agg"),
)
def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.plans.tables import load_tables

    t = load_tables(spark, sf_dir, "orders", "lineitem")
    e = (
        t["orders"]
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .transform(pin)  # four half-steps reuse the edge set
    )
    dec = "decimal(28,12)"
    ne = e.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    h1 = (
        e.groupBy("c")
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
        .crossJoin(F.broadcast(ne))
        .select("c", F.round(F.col("d") / F.col("m"), 12).cast(dec).alias("h"))
    )

    def half_step(score: DataFrame, key: str, other: str, out: str) -> DataFrame:
        """One HITS half-step: sum the partner side's scores, L1-normalize."""
        raw = (
            e.join(score, key)
            .groupBy(other)
            .agg(F.sum(score.columns[-1]).alias("raw"))
        )
        z = raw.agg(F.sum("raw").cast("double").alias("z"))
        return raw.crossJoin(F.broadcast(z)).select(
            other,
            F.round(F.col("raw").cast("double") / F.col("z"), 12)
            .cast(dec)
            .alias(out),
        )

    a1 = half_step(h1, "c", "s", "a")
    h2 = half_step(a1, "s", "c", "h")
    a2 = half_step(h2, "c", "s", "a")
    tops = (
        a2.orderBy(F.col("a").desc(), "s")
        .limit(HITS_TOPK)
        .select(
            F.lit("authority").alias("role"),
            F.col("s").cast("bigint").alias("node"),
            F.round(F.col("a").cast("double"), 12).alias("score"),
        )
    )
    toph = (
        h2.orderBy(F.col("h").desc(), "c")
        .limit(HITS_TOPK)
        .select(
            F.lit("hub").alias("role"),
            F.col("c").cast("bigint").alias("node"),
            F.round(F.col("h").cast("double"), 12).alias("score"),
        )
    )
    return tops.unionAll(toph).orderBy("role", F.col("score").desc(), "node")


# --------------------------------------------- degree assortativity

_Q6D = "CAST(round({x}, 6) AS DECIMAL(18,6))"


@query(
    "graph_assortativity",
    oracle=f"""
    WITH pairs AS ({_minhash_pairs_sql()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u
    ),
    ek AS (
      SELECT da.d AS j, db.d AS k
      FROM pairs p
      JOIN deg da ON p.doc_a = da.node
      JOIN deg db ON p.doc_b = db.node
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(j * k) AS BIGINT) AS sjk,
             CAST(sum(j + k) AS BIGINT) AS sj,
             CAST(sum(j * j + k * k) AS BIGINT) AS sj2
      FROM ek
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
    parts AS (
      SELECT nn.n_nodes, m.m,
             CAST(m.sjk AS DOUBLE) / m.m
               - (CAST(m.sj AS DOUBLE) / (2 * m.m))
                 * (CAST(m.sj AS DOUBLE) / (2 * m.m)) AS num,
             CAST(m.sj2 AS DOUBLE) / (2 * m.m)
               - (CAST(m.sj AS DOUBLE) / (2 * m.m))
                 * (CAST(m.sj AS DOUBLE) / (2 * m.m)) AS den
      FROM m CROSS JOIN nn
    )
    SELECT n_nodes, m AS n_edges,
           round(num / nullif(den, 0.0), 6) AS assortativity
    FROM parts
    """,
    doc="degree assortativity coefficient (Newman 2002 PRL eq. 4) of the "
    "MinHash-LSH near-duplicate graph: the Pearson correlation of "
    "endpoint degrees over edges — positive means duplicate hubs link "
    "to hubs (template farms cross-copying each other), negative means "
    "hub-and-spoke copying (one source fanned out to many leaves), and "
    "the sign decides whether cluster-representative dedup or "
    "star-collapse dedup fits the corpus. Every sum (jk, j+k, j²+k²) "
    "is INTEGER over the pair set, so both engines are exact by "
    "construction up to the one final division. Cost: degrees are one "
    "groupBy on the doubled (already sub-quadratic, df-bounded) LSH "
    "edge list, two degree joins back to the pairs, a 1-row reduce",
    tags=("graph", "dedup"),
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The pair list feeds the doubled edge union AND the two degree
    # join-backs, and deg feeds three branches — unpinned, the scan
    # audit counted 14 re-derivations of the MinHash pipeline. Eager
    # checkpoints on both (LSH-pair-bounded / node-bounded) pin the
    # plan to one candidate-pipeline run (graph_modularity_score
    # pattern, components.py:921).
    pairs = dedup_minhash_pairs(spark, sf_dir).transform(pin, fact_scale=True)
    edges = pairs.select(F.col("doc_a").alias("u")).unionAll(
        pairs.select(F.col("doc_b").alias("u"))
    )
    deg = (
        edges.groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .transform(pin)
    )
    ek = (
        pairs.join(deg.select(F.col("u").alias("na"), F.col("d").alias("j")),
                   F.col("doc_a") == F.col("na"))
        .join(deg.select(F.col("u").alias("nb"), F.col("d").alias("k")),
              F.col("doc_b") == F.col("nb"))
        .select("j", "k")
    )
    m = ek.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(F.col("j") * F.col("k")).cast("bigint").alias("sjk"),
        F.sum(F.col("j") + F.col("k")).cast("bigint").alias("sj"),
        F.sum(F.col("j") * F.col("j") + F.col("k") * F.col("k"))
        .cast("bigint")
        .alias("sj2"),
    )
    nn = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    mean_half = F.col("sj").cast("double") / (2 * F.col("m"))
    num = F.col("sjk").cast("double") / F.col("m") - mean_half * mean_half
    den = F.col("sj2").cast("double") / (2 * F.col("m")) - mean_half * mean_half
    return m.crossJoin(F.broadcast(nn)).select(
        "n_nodes",
        F.col("m").alias("n_edges"),
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("assortativity"),
    )


# --------------------------------------------- degree power-law MLE

PL_DMIN = 2  # tail cutoff: fit nodes with degree >= this


@query(
    "graph_degree_powerlaw",
    oracle=f"""
    WITH pairs AS ({_minhash_pairs_sql()}),
    edges AS (
      SELECT doc_a AS u FROM pairs UNION ALL SELECT doc_b FROM pairs
    ),
    deg AS (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u
    ),
    hist AS (
      SELECT d, CAST(count(*) AS BIGINT) AS cnt FROM deg GROUP BY d
    ),
    tail AS (
      SELECT d, cnt,
             {_Q6D.format(x=f'cnt * round(ln(d / ({PL_DMIN} - 0.5)), 6)')} AS lterm
      FROM hist WHERE d >= {PL_DMIN}
    )
    SELECT CAST(sum(cnt) AS BIGINT) AS n_tail,
           CAST({PL_DMIN} AS BIGINT) AS d_min,
           CAST(max(d) AS BIGINT) AS d_max,
           round(1.0 + sum(cnt) / CAST(sum(lterm) AS DOUBLE), 6) AS alpha_mle
    FROM tail
    """,
    doc=f"power-law exponent MLE for the near-dup graph's degree "
    f"distribution (Clauset, Shalizi & Newman 2009 SIAM Rev eq. 3.7, "
    f"the discrete approximation alpha = 1 + n / sum ln(d_i/(d_min-1/2)) "
    f"at d_min={PL_DMIN}): the scale-free-ness gauge for duplication "
    f"structure — alpha near 2 means a few mega-duplicated templates "
    f"dominate (dedup work is concentrated and cluster caps matter), "
    f"large alpha means duplication is shallow and uniform. The graph "
    f"twin of text_zipf_fit. Degrees collapse to the DISTINCT-DEGREE "
    f"histogram before any transcendental, so ln runs on a "
    f"domain-bounded grain with the 6dp-round-then-decimal-sum "
    f"discipline; everything upstream is integer group-bys on the "
    f"LSH edge list",
    tags=("graph", "dedup", "bench_extra"),
)
def graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSH-bounded candidate-pair list (the LPA edge-pin precedent):
    # the 2-branch endpoint union re-derived the WHOLE minhash pipeline
    # per branch unpinned (4 executed documents scans); pinned, the
    # pipeline runs once and both branches read
    # the stored pairs. fact_scale: the pair list grows with the corpus
    # (worst-case superlinear in skewed band buckets), so it gets the
    # lineage-recoverable persist, never an unreplicated local
    # checkpoint of a corpus-growing frame.
    pairs = dedup_minhash_pairs(spark, sf_dir).transform(pin, fact_scale=True)
    edges = pairs.select(F.col("doc_a").alias("u")).unionAll(
        pairs.select(F.col("doc_b").alias("u"))
    )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    tail = hist.filter(F.col("d") >= PL_DMIN).select(
        "d",
        "cnt",
        (
            F.round(
                F.col("cnt")
                * F.round(F.log(F.col("d") / F.lit(PL_DMIN - 0.5)), 6),
                6,
            ).cast("decimal(18,6)")
        ).alias("lterm"),
    )
    return tail.agg(
        F.sum("cnt").cast("bigint").alias("n_tail"),
        F.lit(PL_DMIN).cast("bigint").alias("d_min"),
        F.max("d").cast("bigint").alias("d_max"),
        F.round(
            1.0 + F.sum("cnt") / F.sum("lterm").cast("double"), 6
        ).alias("alpha_mle"),
    )
