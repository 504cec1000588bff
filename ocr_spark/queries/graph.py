"""Graph driver queries: triangle count, PageRank, k-core and Markov
transitions, each beside its DuckDB oracle."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ocr_spark.queries.common import _docs, _tbl, oracle


# Triangle count (P43): the classic heavy-join graph statistic, done
# the way it survives skew — DEGREE-ORDERED ORIENTATION.  Each
# undirected edge is directed from its (degree, id)-smaller endpoint
# to the larger, which bounds every node's out-degree by O(sqrt(E))
# regardless of hubs; wedges enumerate as the self-join of the
# oriented edge list on the source, and a wedge closes iff the
# orientation-order edge (v, w) exists.  Without orientation, a hub
# with d neighbors yields d^2/2 wedges from that node alone — the plan
# that dies first at 10^12 edges.  The graph is a deterministic
# 3-circulant (u ~ u+1, u+2, u+3 mod N — every vertex closes known
# triangle families) plus planted HUB edges (u ~ 0 for u % 10 == 3)
# that add degree skew but no triangles, exactly the adversarial shape
# orientation exists for.  The oriented list is materialized once
# (checkpoint) and reused by the wedge AND closing sides.
@oracle("""
            WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
            nodes AS (SELECT doc_id AS id FROM documents),
            raw AS (
              SELECT id, (id + 1) % nn.n AS peer FROM nodes, nn
              UNION ALL SELECT id, (id + 2) % nn.n FROM nodes, nn
              UNION ALL SELECT id, (id + 3) % nn.n FROM nodes, nn
              UNION ALL SELECT id,
                         CASE WHEN id % 10 = 3 THEN 0 ELSE id END
              FROM nodes
            ),
            edges AS (
              SELECT DISTINCT least(id, peer) AS a, greatest(id, peer) AS b
              FROM raw WHERE id <> peer
            ),
            deg AS (
              SELECT v, count(*)::BIGINT AS d FROM (
                SELECT a AS v FROM edges UNION ALL SELECT b FROM edges
              ) GROUP BY 1
            ),
            oriented AS (
              SELECT CASE WHEN (da.d, e.a) < (db.d, e.b)
                          THEN e.a ELSE e.b END AS src,
                     CASE WHEN (da.d, e.a) < (db.d, e.b)
                          THEN e.b ELSE e.a END AS dst,
                     CASE WHEN (da.d, e.a) < (db.d, e.b)
                          THEN db.d ELSE da.d END AS dd
              FROM edges e
              JOIN deg da ON e.a = da.v
              JOIN deg db ON e.b = db.v
            ),
            wedges AS (
              SELECT l.src, l.dst AS v, l.dd AS dv, r.dst AS w, r.dd AS dw
              FROM oriented l JOIN oriented r ON l.src = r.src
              WHERE (l.dd, l.dst) < (r.dd, r.dst)
            ),
            closed AS (
              SELECT wg.src FROM wedges wg
              WHERE EXISTS (SELECT 1 FROM oriented o
                            WHERE o.src = wg.v AND o.dst = wg.w)
            )
            SELECT (SELECT count(*)::BIGINT FROM edges) AS n_edges,
                   (SELECT count(*)::BIGINT FROM wedges) AS n_wedges,
                   (SELECT count(*)::BIGINT FROM closed) AS n_triangles
        """)
def q_triangle_count(spark, sf_dir):
    import pyarrow.parquet as pq

    n = pq.ParquetFile(f"{sf_dir}/documents.parquet").metadata.num_rows
    nodes = _docs(spark, sf_dir).select(F.col("doc_id").alias("id"))
    raw = nodes.select(
        "id",
        F.explode(
            F.array(
                (F.col("id") + 1) % F.lit(n),
                (F.col("id") + 2) % F.lit(n),
                (F.col("id") + 3) % F.lit(n),
                F.when(F.col("id") % 10 == 3, F.lit(0)).otherwise(
                    F.col("id")
                ),
            )
        ).alias("peer"),
    ).filter(F.col("id") != F.col("peer"))
    edges = (
        raw.select(
            F.least("id", "peer").alias("a"),
            F.greatest("id", "peer").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionByName(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    fwd = F.struct("da", "a") < F.struct("db", "b")
    oriented = (
        edges.join(da, "a").join(db, "b")
        .select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dd"),
        )
        .localCheckpoint(eager=False)
    )
    l = oriented.select(
        F.col("src"), F.col("dst").alias("v"), F.col("dd").alias("dv")
    )
    r = oriented.select(
        F.col("src"), F.col("dst").alias("w"), F.col("dd").alias("dw")
    )
    wedges = l.join(r, "src").filter(
        F.struct(F.col("dv"), F.col("v")) < F.struct(F.col("dw"), F.col("w"))
    )
    closed = wedges.join(
        oriented.select(
            F.col("src").alias("v"), F.col("dst").alias("w")
        ),
        ["v", "w"],
        "left_semi",
    )
    return (
        edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        .crossJoin(
            wedges.agg(F.count(F.lit(1)).cast("long").alias("n_wedges"))
        )
        .crossJoin(
            closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        )
    )


# Markov transition matrix (P42): per-user next-event transition
# counts and probabilities — the behavioral-sequence statistic behind
# session modeling and next-action prediction.  One window (lead over
# the per-user (ts, event_id) order — same high-cardinality uniform
# partitioning as sessionize/funnel) and one global hash agg on the
# (from, to) pair (bounded by |event_type|^2 — tiny); probabilities in
# integer ppm via a window total per from-state, no FP division.
@oracle("""
            WITH pairs AS (
              SELECT event_type AS from_type,
                     lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS to_type
              FROM events
            ),
            t AS (
              SELECT from_type, to_type, count(*)::BIGINT AS n_trans
              FROM pairs WHERE to_type IS NOT NULL
              GROUP BY 1, 2
            )
            SELECT from_type, to_type, n_trans,
                   sum(n_trans) OVER (PARTITION BY from_type)::BIGINT AS n_from,
                   (n_trans * 1000000 //
                    sum(n_trans) OVER (PARTITION BY from_type))::BIGINT
                     AS prob_ppm
            FROM t
        """)
def q_markov_transitions(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"), F.col("to_type")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_trans"))
    )
    wf = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n_trans",
        F.sum("n_trans").over(wf).cast("long").alias("n_from"),
        F.expr("n_trans * 1000000 div sum(n_trans) over (partition by from_type)")
        .cast("long").alias("prob_ppm"),
    )


# Fixed-iteration PageRank (P39): power iteration over a deterministic
# synthetic link graph (each doc links to (id*id+1) mod N and id div 2
# — uniform out-degree 2; the quadratic map is non-invertible mod
# composite N and the halving map funnels toward low ids, so in-degree
# is genuinely skewed.  A LINEAR map like (3*id+1) mod N is a bijection
# for gcd(3,N)=1 and collapses every rank to exactly 1.0 — the first
# cut did that), 3 unrolled rounds of
# r' = 0.15 + 0.85 * sum(in-contribs), all in 1e6 fixed point with
# integer division (r div 2 per out-edge, *85 div 100 damping) so both
# engines agree bit-exactly.  N comes from the parquet footer (Iceberg
# snapshot stats at production) — no count() job.  Scale shape: the
# Pregel loop — edge table partitioned by src ONCE and reused each
# round (localCheckpoint pins it; only the rank table re-shuffles), one
# src-join + one dst-agg exchange per round, nodes with no in-links
# retained by a left anti-free left join + coalesce(0).  3 rounds is
# the fixed-budget flavor (rank-stability deltas, not convergence
# tests, decide rounds at 100 TB — same argument as the pointer-
# doubling cap in P19).
_PR_ITERS = 3


@oracle("""
            WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
            nodes AS (SELECT doc_id AS id FROM documents),
            edges AS (
              SELECT id AS src, (id * id + 1) % nn.n AS dst FROM nodes, nn
              UNION ALL
              SELECT id, id // 2 FROM nodes, nn
            ),
            r0 AS (SELECT id, 1000000::BIGINT AS r FROM nodes),
            c1 AS (SELECT e.dst, sum(r.r // 2) AS s FROM edges e
                   JOIN r0 r ON e.src = r.id GROUP BY 1),
            r1 AS (SELECT nodes.id,
                          (150000 + (85 * coalesce(c1.s, 0)) // 100)::BIGINT AS r
                   FROM nodes LEFT JOIN c1 ON nodes.id = c1.dst),
            c2 AS (SELECT e.dst, sum(r.r // 2) AS s FROM edges e
                   JOIN r1 r ON e.src = r.id GROUP BY 1),
            r2 AS (SELECT nodes.id,
                          (150000 + (85 * coalesce(c2.s, 0)) // 100)::BIGINT AS r
                   FROM nodes LEFT JOIN c2 ON nodes.id = c2.dst),
            c3 AS (SELECT e.dst, sum(r.r // 2) AS s FROM edges e
                   JOIN r2 r ON e.src = r.id GROUP BY 1)
            SELECT nodes.id,
                   (150000 + (85 * coalesce(c3.s, 0)) // 100)::BIGINT AS rank
            FROM nodes LEFT JOIN c3 ON nodes.id = c3.dst
        """)
def q_pagerank(spark, sf_dir):
    import pyarrow.parquet as pq

    n = pq.ParquetFile(f"{sf_dir}/documents.parquet").metadata.num_rows
    nodes = _docs(spark, sf_dir).select(F.col("doc_id").alias("id"))
    edges = (
        nodes.select(
            F.col("id").alias("src"),
            F.explode(
                F.array(
                    (F.col("id") * F.col("id") + 1) % F.lit(n),
                    F.expr("id div 2"),
                )
            ).alias("dst"),
        )
        .repartition(F.col("src"))
        .localCheckpoint(eager=False)
    )
    ranks = nodes.select("id", F.lit(1000000).cast("long").alias("r"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.id)
            .select("dst", F.expr("r div 2").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(
            contrib, nodes.id == contrib.dst, "left"
        ).select(
            "id",
            (
                F.lit(150000)
                + F.expr("(85 * coalesce(s, 0)) div 100")
            ).cast("long").alias("r"),
        )
    return ranks.select("id", F.col("r").alias("rank"))


# k-core decomposition (P63): the graph-robustness peel — repeatedly
# drop nodes with degree < k until every survivor has >= k surviving
# neighbors (community cores, spam-farm pruning, the densest-region
# prefilter before expensive graph algorithms).  Same deterministic
# quadratic link graph as PageRank (P39), SYMMETRIZED (k-core is an
# undirected notion) and de-self-looped.  Both engines run the same
# FIXED number of peel rounds, so the oracle can be plain unrolled SQL
# (no recursion, no engine-specific fixpoint semantics); actual
# convergence within those rounds is pinned separately by
# tests/test_graph.py, which runs an extra round at sf0.001 and asserts
# no further change.  Scale shape: each round is one degree hash-agg +
# two semi-joins against the (shrinking) survivor set; the edge table
# is lineage-truncated per round via localCheckpoint exactly like the
# P19 label tables — round plans stay constant-size.
_KCORE_K = 3


_KCORE_ROUNDS = 6


def _kcore_edges(spark, sf_dir):
    import pyarrow.parquet as pq

    n = pq.ParquetFile(f"{sf_dir}/documents.parquet").metadata.num_rows
    nodes = _docs(spark, sf_dir).select(F.col("doc_id").alias("id"))
    raw = nodes.select(
        F.col("id").alias("u"),
        F.explode(
            F.array(
                (F.col("id") * F.col("id") + 1) % F.lit(n),
                F.expr("id div 2"),
            )
        ).alias("v"),
    )
    return (
        raw.select("u", "v")
        .unionByName(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )


def _kcore_peel(edges, rounds: int):
    for _ in range(rounds):
        alive = (
            edges.groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select("u")
        )
        edges = (
            edges.join(alive, "u")
            .join(alive.withColumnRenamed("u", "v"), "v")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
    return edges


def _sql_kcore_rounds(rounds: int) -> str:
    parts = [
        "WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),",
        "nodes AS (SELECT doc_id AS id FROM documents),",
        "raw AS (SELECT id AS u, (id * id + 1) % nn.n AS v FROM nodes, nn"
        " UNION ALL SELECT id, id // 2 FROM nodes, nn),",
        "e0 AS (SELECT DISTINCT u, v FROM"
        " (SELECT u, v FROM raw UNION ALL SELECT v, u FROM raw)"
        " WHERE u != v)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f", a{r} AS (SELECT u FROM e{r-1} GROUP BY u"
            f" HAVING count(*) >= {_KCORE_K})"
            f", e{r} AS (SELECT e.u, e.v FROM e{r-1} e"
            f" JOIN a{r} x ON e.u = x.u JOIN a{r} y ON e.v = y.u)"
        )
    parts.append(
        f"SELECT u AS node, count(*)::BIGINT AS core_deg"
        f" FROM e{rounds} GROUP BY 1"
    )
    return "\n".join(parts)


@oracle(_sql_kcore_rounds(_KCORE_ROUNDS))
def q_kcore(spark, sf_dir):
    edges = _kcore_peel(_kcore_edges(spark, sf_dir), _KCORE_ROUNDS)
    return edges.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("core_deg")
    )
