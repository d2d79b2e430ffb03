"""Coverage wave 43 (round 10) — the graph-ANN family (VERDICT r9 #7b):
a deterministic, fully oracle-able NSW-style search over an exact kNN
graph, plus its beam-width pricing curve.

WHY THIS SHAPE: true HNSW is not oracle-able — its layer assignment is
random and its insert order is stateful, so no deterministic SQL twin
exists.  Its deterministic CORE is, though: (1) the proximity graph
(the base layer — here the exact k-nearest-neighbor digraph under
integer inner-product score), and (2) the greedy best-first BEAM
SEARCH over that graph, unrolled to a fixed hop budget.  That pair is
exactly what the dedup/retrieval literature prices (NSW, Malkov et al.
2014; HNSW's layer-0 search), and both are expressible as joins +
windows on BOTH engines.  The random-level insertion heuristic is the
only part left out, and it is documented here as such — IVF/PQ remain
the trained-index frontier (registry_llm3), this wave adds the
graph-traversal frontier.

Determinism devices: scores are EXACT integer inner products of
milli-quantized coordinates (round(x·1000) — BIGINT sums commute, so
no fold-order risk); all ranks tie-break on vec_id; the node set and
query set are fixed-size vec_id-ordered caps (the capped-eval
contract: scale-independent benchmark, TakeOrdered — never a global
sort); the entry point is the minimum node id; hops are unrolled
(H = 3); the beam at each hop is the top-b of everything VISITED so
far (idempotent re-expansion — monotone, converging, and identical on
both engines).

- ``knn_graph_edges``: the graph itself — per source node its k = 8
  strongest neighbors by integer inner product (rank, dst, score).
  The building block every graph-ANN shares.
- ``graph_ann_beam_search``: the search primitive at beam width 4 —
  per held-out query: nodes visited (the COST), the best node found,
  its score, the brute-force true best over all nodes, and whether
  the search found it (score-match, so exact ties count as hits).
- ``graph_ann_recall_curve``: the DIAL — recall@1 and total visited
  per beam width b ∈ {1, 2, 4} (the ef-search knob priced like
  nprobe/bands/num_bits: recall climbs with b, cost climbs linearly).

Scale shapes: graph construction here is the capped exact form (256²
integer dots — the benchmark contract); at 100 TB construction
delegates to blocked candidate generation (NN-descent / IVF buckets)
feeding the SAME edge schema, and search cost is per-query
O(H·b·k) score evaluations INDEPENDENT of corpus size — the entire
point of graph ANN, and exactly what the visited-count column
measures.  Searches for all queries ride one broadcast join per hop.

Reference scope: composes the reference's aggregation surface
(src/transform/etl_pipeline.py groupbys) with the LLM-pipeline
extension; no counterpart file exists — cited per SURVEY §6 as a scale
extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import register, t
from .worker import install_zip_stamps

_G_NODES = 256      # graph size — fixed benchmark cap (vec_id-ordered)
_G_K = 8            # out-degree of the kNN digraph
_G_QUERIES = 16     # held-out query set (the next 16 vec_ids)
_G_HOPS = 3         # unrolled search depth
_G_BEAMS = (1, 2, 4)
_G_DIM = 64

# ---- shared SQL devices --------------------------------------------------

# exploded milli-quantized coordinates of a vec frame named {src}
def _el(src: str, name: str) -> str:
    return f"""{name} AS (
        SELECT vec_id, r.i - 1 AS dim,
               CAST(round(CAST(embedding[r.i] AS DOUBLE) * 1000)
                    AS BIGINT) AS q
        FROM {src}, (SELECT unnest(range(1, {_G_DIM + 1})) AS i) r
    )"""


_GRAPH_CTES = f"""nodes AS (
        SELECT vec_id, embedding FROM embeddings
        ORDER BY vec_id LIMIT {_G_NODES}
    ),
    {_el('nodes', 'nel')},
    npairs AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               CAST(SUM(a.q * b.q) AS BIGINT) AS score
        FROM nel a JOIN nel b ON a.dim = b.dim AND a.vec_id <> b.vec_id
        GROUP BY 1, 2
    ),
    graph AS (
        SELECT src, dst, score,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY score DESC, dst) AS rk
        FROM npairs QUALIFY rk <= {_G_K}
    )"""

_QUERY_CTES = f"""qset AS (
        SELECT vec_id, embedding FROM embeddings
        ORDER BY vec_id LIMIT {_G_QUERIES} OFFSET {_G_NODES}
    ),
    {_el('qset', 'qel')},
    qn AS (
        SELECT q.vec_id AS qid, n.vec_id AS node,
               CAST(SUM(q.q * n.q) AS BIGINT) AS score
        FROM qel q JOIN nel n ON n.dim = q.dim
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT qid, node AS true_id, score AS true_score
        FROM (SELECT qid, node, score,
                     ROW_NUMBER() OVER (PARTITION BY qid
                                        ORDER BY score DESC, node) AS tr
              FROM qn) WHERE tr = 1
    ),
    entry AS (SELECT MIN(vec_id) AS v FROM nodes)"""


def _beam_ctes(beam: int, sfx: str) -> str:
    """The unrolled beam-search chain at width ``beam`` — visited sets
    vis0{sfx} .. vis{_G_HOPS}{sfx} over the shared graph/qn frames.
    Each hop: expand the top-``beam`` visited nodes through the graph,
    score the neighbors (a lookup into qn — every (query, node) score
    exists there), and union into the visited set."""
    out = [f"""vis0{sfx} AS (
        SELECT qn.qid, qn.node, qn.score
        FROM qn JOIN entry ON qn.node = entry.v
    )"""]
    for h in range(1, _G_HOPS + 1):
        p = f"vis{h - 1}{sfx}"
        out.append(f"""exp{h}{sfx} AS (
        SELECT qid, node FROM (
            SELECT qid, node,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY score DESC, node) AS rk
            FROM {p}) WHERE rk <= {beam}
    ),
    vis{h}{sfx} AS (
        SELECT DISTINCT qid, node, score FROM (
            SELECT qid, node, score FROM {p}
            UNION ALL
            SELECT e.qid, qn.node, qn.score
            FROM exp{h}{sfx} e
            JOIN graph g ON g.src = e.node
            JOIN qn ON qn.qid = e.qid AND qn.node = g.dst
        )
    )""")
    return ",\n    ".join(out)


def _found_cte(sfx: str) -> str:
    return f"""found{sfx} AS (
        SELECT qid, COUNT(*) AS n_visited,
               MAX(node) FILTER (WHERE fr = 1) AS found_id,
               MAX(score) FILTER (WHERE fr = 1) AS found_score
        FROM (SELECT qid, node, score,
                     ROW_NUMBER() OVER (PARTITION BY qid
                                        ORDER BY score DESC, node) AS fr
              FROM vis{_G_HOPS}{sfx})
        GROUP BY qid
    )"""


_GRAPH_EDGES_SQL = f"""
    WITH {_GRAPH_CTES}
    SELECT CAST(src AS BIGINT) AS src, CAST(rk AS BIGINT) AS rk,
           CAST(dst AS BIGINT) AS dst, score
    FROM graph
"""

_BEAM_SQL = f"""
    WITH {_GRAPH_CTES},
    {_QUERY_CTES},
    {_beam_ctes(4, '')},
    {_found_cte('')}
    SELECT f.qid, CAST(f.n_visited AS BIGINT) AS n_visited,
           CAST(f.found_id AS BIGINT) AS found_id, f.found_score,
           t.true_id, t.true_score,
           CAST(CASE WHEN f.found_score = t.true_score THEN 1 ELSE 0 END
                AS BIGINT) AS hit
    FROM found f JOIN truth t USING (qid)
"""


def _recall_curve_sql() -> str:
    chains = []
    selects = []
    for b in _G_BEAMS:
        sfx = f"_b{b}"
        chains.append(_beam_ctes(b, sfx))
        chains.append(_found_cte(sfx))
        selects.append(f"""SELECT CAST({b} AS BIGINT) AS beam,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN f.found_score = t.true_score
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           CAST(round(1e4 * SUM(CASE WHEN f.found_score = t.true_score
                                     THEN 1 ELSE 0 END) / COUNT(*))
                AS BIGINT) AS recall_bp,
           CAST(SUM(f.n_visited) AS BIGINT) AS total_visited
    FROM found{sfx} f JOIN truth t USING (qid)""")
    body = ",\n    ".join([_GRAPH_CTES, _QUERY_CTES] + chains)
    return "\n    WITH " + body + "\n    " + "\n    UNION ALL\n    ".join(selects)


# ---- shared Spark devices ------------------------------------------------

_QARR = ("transform(embedding, x -> "
         "cast(round(cast(x as double) * 1000) as bigint))")
_IDOT = ("aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, "
         "(acc, v) -> acc + v)")


def _graph_frames(spark: SparkSession, sf_dir: str):
    """(nodes, graph, qn, truth): the quantized capped node set, its kNN
    digraph, the full query×node score table, and the brute-force truth
    — shared by all three gates so they can never disagree."""
    e = t(spark, sf_dir, "embeddings")
    nodes = (e.orderBy("vec_id").limit(_G_NODES)
             .select("vec_id", F.expr(_QARR).alias("qa")))
    n2 = nodes.select(F.col("vec_id").alias("dst"),
                      F.col("qa").alias("qb"))
    npairs = (
        nodes.select(F.col("vec_id").alias("src"), "qa")
        .crossJoin(F.broadcast(n2))
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst",
                F.expr(_IDOT.format(a="qa", b="qb")).alias("score"))
    )
    graph = (
        npairs.withColumn(
            "rk", F.row_number().over(
                Window.partitionBy("src")
                .orderBy(F.desc("score"), F.asc("dst"))))
        .filter(F.col("rk") <= _G_K)
    )
    qset = (e.orderBy("vec_id").limit(_G_NODES + _G_QUERIES)
            .select(F.col("vec_id").alias("qid"),
                    F.expr(_QARR).alias("qq"))
            .join(nodes.select(F.col("vec_id").alias("qid")),
                  "qid", "left_anti"))
    qn = (
        qset.crossJoin(F.broadcast(
            nodes.select(F.col("vec_id").alias("node"),
                         F.col("qa").alias("qb"))))
        .select("qid", "node",
                F.expr(_IDOT.format(a="qq", b="qb")).alias("score"))
    )
    truth = (
        qn.withColumn(
            "tr", F.row_number().over(
                Window.partitionBy("qid")
                .orderBy(F.desc("score"), F.asc("node"))))
        .filter(F.col("tr") == 1)
        .select("qid", F.col("node").alias("true_id"),
                F.col("score").alias("true_score"))
    )
    return nodes, graph, qn, truth


def _beam_search_multi(graph: DataFrame, qn: DataFrame,
                       beams: tuple[int, ...]) -> DataFrame:
    """(qid, beam, n_visited, found_id, found_score) after _G_HOPS
    unrolled hops, for EVERY requested beam width in one pass — the
    Spark twin of _beam_ctes + _found_cte.

    r12 shape (guide §2.4/§4): the search state is per-query bounded
    (≤ 1 + H·b·k nodes over a ≤``_G_NODES``-src graph), so the whole
    hop loop runs as ONE grouped kernel over ``qn`` partitioned by qid
    — one Exchange total — instead of per-hop-per-width DataFrame
    rounds (the r11 form still paid one repartition+distinct and one
    rank window per hop per width: 9 hop-rounds for the 3-width curve).
    The ≤ _G_NODES·_G_K-edge graph is collected once and closed over;
    that is the same bounded-driver-state pattern as the k-means
    centroid handoff (r11).  All scores are exact BIGINTs and every
    rank tie-breaks on node id, so the Python replay is value-identical
    to the join/window form — the DuckDB oracle (the unrolled CTE
    chain) pins that equivalence at every SF the driver checks.
    """
    import pandas as pd

    adj: dict[int, list[int]] = {}
    for row in graph.select("src", "dst").collect():
        adj.setdefault(row["src"], []).append(row["dst"])
    # every node is a src (k >= 1 and >= 2 nodes), so the min-id entry
    # point of the node set is the min src
    entry = min(adj)
    hops = _G_HOPS

    def search(pdf: pd.DataFrame) -> pd.DataFrame:
        install_zip_stamps()
        qid = int(pdf["qid"].iloc[0])
        nodes = pdf["node"].to_numpy()
        scores = pdf["score"].to_numpy()
        score_of = dict(zip(nodes.tolist(), scores.tolist()))
        rows = []
        for b in beams:
            vis = {entry}
            for _ in range(hops):
                # beam = top-b of everything visited (score desc, node asc)
                beam_nodes = sorted(
                    vis, key=lambda n: (-score_of[n], n))[:b]
                for n in beam_nodes:
                    vis.update(adj.get(n, ()))
            found = min(vis, key=lambda n: (-score_of[n], n))
            rows.append((qid, b, len(vis), found, score_of[found]))
        return pd.DataFrame(
            rows, columns=["qid", "beam", "n_visited", "found_id",
                           "found_score"]).astype("int64")

    return qn.groupBy("qid").applyInPandas(
        search,
        "qid long, beam long, n_visited long, found_id long, "
        "found_score long")


def _beam_search(nodes: DataFrame, graph: DataFrame, qn: DataFrame,
                 beam: int) -> DataFrame:
    """Single-width view of :func:`_beam_search_multi` (``nodes`` is
    accepted for signature compatibility; the entry point derives from
    the graph's src set, which equals the node set)."""
    return _beam_search_multi(graph, qn, (beam,)).drop("beam")


# =========================================================================
# knn_graph_edges — the proximity graph
# =========================================================================

@register("knn_graph_edges", _GRAPH_EDGES_SQL)
def knn_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact kNN digraph over the capped node set — see module
    docstring.  Construction is a broadcast self-pairing of the 256-row
    benchmark cap with exact integer inner products (zip_with fold —
    BIGINT sums, no float order risk) and one per-src ranking window."""
    _, graph, _, _ = _graph_frames(spark, sf_dir)
    return graph.select(
        F.col("src").cast("long"), F.col("rk").cast("long"),
        F.col("dst").cast("long"), F.col("score").cast("long"))


# =========================================================================
# graph_ann_beam_search — the search primitive
# =========================================================================

@register("graph_ann_beam_search", _BEAM_SQL)
def graph_ann_beam_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy beam search (width 4, 3 unrolled hops) from the min-id
    entry point, per held-out query — see module docstring.  ``hit``
    compares SCORES (exact integers), so distinct nodes tied at the
    true maximum count as found."""
    from .operators.materialize import scoped_persist

    nodes, graph, qn, truth = _graph_frames(spark, sf_dir)
    # qn feeds the search kernel AND the truth ranking — persist so the
    # broadcast-scored build (the interpreted zip_with fold over
    # |queries|x|nodes|) runs once, not once per consumer (truth is
    # DERIVED from qn, so both passes re-ran it before)
    qn = scoped_persist(qn)
    found = _beam_search(nodes, graph, qn, beam=4)
    return (
        found.join(truth, "qid")
        .select("qid",
                F.col("n_visited").cast("long"),
                F.col("found_id").cast("long"),
                F.col("found_score").cast("long"),
                F.col("true_id").cast("long"),
                F.col("true_score").cast("long"),
                F.when(F.col("found_score") == F.col("true_score"), 1)
                .otherwise(0).cast("long").alias("hit"))
    )


# =========================================================================
# graph_ann_recall_curve — the ef-search dial, priced
# =========================================================================

@register("graph_ann_recall_curve", _recall_curve_sql())
def graph_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@1 + total visited per beam width — see module docstring.
    One shared graph/score-table build; the three beam chains reuse it
    (the nprobe/bands/num_bits pricing-curve convention)."""
    from .operators.materialize import scoped_persist

    nodes, graph, qn, truth = _graph_frames(spark, sf_dir)
    # qn feeds the kernel AND the truth ranking — persist so the two
    # broadcast-scored passes share one materialization; the graph is
    # consumed exactly once now (the driver-side collect inside
    # _beam_search_multi), so its r11 persist is dropped.
    qn = scoped_persist(qn)
    # r12: all three widths ride ONE grouped-kernel pass (beam column
    # out of the kernel) instead of three independent hop chains — the
    # per-width fold collapses to a single groupBy(beam) aggregate.
    found = _beam_search_multi(graph, qn, _G_BEAMS)
    hit = F.when(F.col("found_score") == F.col("true_score"), 1).otherwise(0)
    return (
        found.join(truth, "qid")
        .groupBy(F.col("beam").cast("long").alias("beam"))
        .agg(F.count("*").cast("long").alias("n_queries"),
             F.sum(hit).cast("long").alias("n_hits"),
             F.round(F.lit(1e4) * F.sum(hit) / F.count("*"))
             .cast("long").alias("recall_bp"),
             F.sum("n_visited").cast("long").alias("total_visited"))
    )
