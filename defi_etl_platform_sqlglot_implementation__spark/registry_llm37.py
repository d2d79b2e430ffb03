"""Coverage wave 38 (round 9) — the covariance power-iteration operator
in pure integer arithmetic, and the quality-filter Venn datasheet.

- ``covariance_power_iteration``: the PCA/whitening power-iteration
  OPERATOR — w = C·v over the exact embedding covariance, iterated —
  in EXACT integer arithmetic, run over TWO populations:

  * ``population='corpus'``: the raw embeddings.  This corpus has a
    FLAT spectrum (λ2/λ1 ≈ 0.93 measured), so 3 steps are far from
    eigen-convergence here — this row set pins the ALGEBRA (the
    per-step fold both engines must reproduce bit-for-bit).
  * ``population='perturbed'`` (VERDICT r9 #3, the ``_PERTURB``
    convention of registry_llm14/32): the corpus PLUS a deterministic
    anisotropic sub-population — for every vec_id % 8 == 0 a synthetic
    vector (id + 10^7) with q_j = c·(1 + j mod 3)·250 where
    c = +2 if vec_id % 16 == 0 else −2 (alternating sign keeps the
    planted mean ~0; the planted variance along the fixed direction
    d_j = 1 + j mod 3 dominates the flat corpus spectrum by ~2 orders)
    — so the GATE, not just the unit test, exercises a spectrum with a
    gap and demonstrates 3-step convergence on driver-shaped data.

  The covariance numerators C[i,j] = n·Σq_iq_j − Σq_i·Σq_j come from
  the ``embedding_dim_correlation`` milli-moment device
  (decimal(38,0) / HUGEINT — exact); each step is w = C·v followed by
  the integer renormalization v' = sign(w)·((|w|·1000) div max|w|)
  (floor == truncation on non-negative operands — identical on both
  engines and in the driver-side fold), starting from v0 = 1000·1.
  Output: one row per (population, dimension) with the iterate after
  each of 3 steps (v1/v2/v3 ∈ [−1000, 1000]) and the population's
  ``align_cos2_bp`` = floor(10^4·cos²(v3, d)) against the planted
  direction d — a pure-integer rational, so the convergence CLAIM is
  itself hash-gated: the perturbed population lands at 9999 bp
  (|cos| ≈ 0.99995, measured at sf0.001 AND sf0.01) while the flat
  corpus sits at 3098–4407 bp (d is positive so a roughly-isotropic
  iterate keeps a baseline overlap — the GAP between the two rows is
  the evidence), fully hash-exact.
  Spark runs the renormalization on the DRIVER over the 64-row w
  vector (the kmeans_micro driver-sized-codebook contract); the
  oracle states the same fold relationally.

- ``quality_filter_venn``: do the three cheap quality filters agree? —
  per combination of (gopher reject, blocklist any-hit, CCNet tail
  bucket): document count and share bp.  Every signal byte-shares its
  standalone gate's construction (``_gopher_flags_core`` thresholds,
  the wave-36 blocklist, ``_ccnet_bucketed``'s tail = bucket 3; docs
  outside the bigram domain count as not-tail).  The redundancy table
  a pipeline owner reads before stacking filters: if two filters
  reject the same docs, one of them is free to drop.

Scale shapes: the power iteration reduces the corpus ONCE to the 64×64
covariance relation (the dim-correlation shuffle), then each step is a
join+aggregate over ≤ 4096 rows (driver-renormalized 64-row vector);
the Venn is three per-doc flag frames joined on doc_id + one 8-row
aggregate.

Reference scope: composes the reference's aggregation surface
(src/transform/etl_pipeline.py groupbys) with the LLM-pipeline
extension; no counterpart file exists — cited per SURVEY §6 as a scale
extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import register, t
from .registry_llm import _SHINGLES_CTE  # noqa: F401 — device parity docs
from .registry_llm27 import _CCNET_RANKED_CTES
from .registry_llm35 import _bl_sql_list, _BLOCKLIST
from .sources.bronze import local_frame

_DIM = 64
_PI_STEPS = 3
_V_SCALE = 1000
# the _PERTURB planted sub-population (VERDICT r9 #3): one synthetic
# vector per vec_id % _PLANT_MOD == 0, alternating-sign coefficient,
# fixed direction d_j = 1 + j mod 3, amplitude _PLANT_AMP milli-units
_PLANT_MOD = 8
_PLANT_SIGN_MOD = 16
_PLANT_ID_OFFSET = 10_000_000
_PLANT_AMP = 250


# =========================================================================
# covariance_power_iteration — integer power iteration, exact covariance
# =========================================================================

_EL_CORPUS_BODY = f"""
        SELECT e.vec_id, r.i - 1 AS dim,
               CAST(round(CAST(e.embedding[r.i] AS DOUBLE) * 1000)
                    AS BIGINT) AS q
        FROM embeddings e, (SELECT unnest(range(1, {_DIM + 1})) AS i) r
"""

_EL_PLANTED_BODY = f"""
        {_EL_CORPUS_BODY}
        UNION ALL
        SELECT e.vec_id + {_PLANT_ID_OFFSET} AS vec_id, r.i - 1 AS dim,
               CAST((CASE WHEN e.vec_id % {_PLANT_SIGN_MOD} = 0
                          THEN 2 ELSE -2 END)
                    * (1 + ((r.i - 1) % 3)) * {_PLANT_AMP} AS BIGINT) AS q
        FROM embeddings e, (SELECT unnest(range(1, {_DIM + 1})) AS i) r
        WHERE e.vec_id % {_PLANT_MOD} = 0
"""


def _pi_chain_sql(el_body: str, sfx: str = "") -> str:
    """The power-iteration CTE chain (``el{sfx}`` .. ``v3{sfx}``, no
    final SELECT) over the given exploded-coordinate population — one
    chain per population, suffixed so two populations coexist in one
    WITH scope."""
    steps = []
    prev = f"v0{sfx}"
    for s in range(1, _PI_STEPS + 1):
        steps.append(f"""w{s}{sfx} AS (
        SELECT cf.i, SUM(cf.c * {prev}.v) AS w
        FROM cfull{sfx} cf JOIN {prev} ON {prev}.i = cf.j
        GROUP BY cf.i
    ),
    m{s}{sfx} AS (SELECT GREATEST(MAX(abs(w)), 1) AS m FROM w{s}{sfx}),
    v{s}{sfx} AS (
        SELECT i,
               CAST(CASE WHEN w >= 0
                         THEN (abs(w) * {_V_SCALE}) // m
                         ELSE -((abs(w) * {_V_SCALE}) // m) END
                    AS HUGEINT) AS v
        FROM w{s}{sfx} CROSS JOIN m{s}{sfx}
    )""")
        prev = f"v{s}{sfx}"
    step_sql = ",\n    ".join(steps)
    return f"""el{sfx} AS ({el_body}),
    pr{sfx} AS (
        SELECT a.dim AS dim_i, b.dim AS dim_j,
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(a.q) AS HUGEINT) AS si,
               CAST(SUM(b.q) AS HUGEINT) AS sj,
               SUM(CAST(a.q AS HUGEINT) * b.q) AS p
        FROM el{sfx} a JOIN el{sfx} b
          ON a.vec_id = b.vec_id AND a.dim <= b.dim
        GROUP BY 1, 2
    ),
    cfull{sfx} AS (
        SELECT dim_i AS i, dim_j AS j, n * p - si * sj AS c FROM pr{sfx}
        UNION ALL
        SELECT dim_j, dim_i, n * p - si * sj FROM pr{sfx}
        WHERE dim_i < dim_j
    ),
    v0{sfx} AS (SELECT i, CAST({_V_SCALE} AS HUGEINT) AS v
           FROM (SELECT DISTINCT i FROM cfull{sfx})),
    {step_sql}"""


def _top_component_sql() -> str:
    """The single-population (corpus) chain + final SELECT — kept in
    this exact shape because ``embedding_projection_outliers``
    (registry_llm40) byte-shares the chain by stripping the trailing
    SELECT."""
    return f"""
    WITH {_pi_chain_sql(_EL_CORPUS_BODY)}
    SELECT CAST(v1.i AS BIGINT) AS dim,
           CAST(v1.v AS BIGINT) AS v1,
           CAST(v2.v AS BIGINT) AS v2,
           CAST(v3.v AS BIGINT) AS v3
    FROM v1 JOIN v2 ON v2.i = v1.i JOIN v3 ON v3.i = v1.i
"""


def _pi_gate_sql() -> str:
    """Both populations in one WITH scope + the per-population
    ``align_cos2_bp`` = (dot² · 10^4) // (‖v3‖²·‖d‖²) against the
    planted direction d_j = 1 + j mod 3 — a pure-integer rational, so
    floor division agrees bit-for-bit across engines."""
    def _align(sfx: str) -> str:
        return f"""al{sfx} AS (
        SELECT SUM(v3{sfx}.v * d.dv) AS dot,
               SUM(v3{sfx}.v * v3{sfx}.v) AS n3,
               SUM(d.dv * d.dv) AS nd
        FROM v3{sfx} JOIN dirs d ON d.i = v3{sfx}.i
    )"""

    def _pop_select(pop: str, sfx: str) -> str:
        return f"""SELECT '{pop}' AS population,
           CAST(v1{sfx}.i AS BIGINT) AS dim,
           CAST(v1{sfx}.v AS BIGINT) AS v1,
           CAST(v2{sfx}.v AS BIGINT) AS v2,
           CAST(v3{sfx}.v AS BIGINT) AS v3,
           CAST((al{sfx}.dot * al{sfx}.dot * 10000)
                // (al{sfx}.n3 * al{sfx}.nd) AS BIGINT) AS align_cos2_bp
    FROM v1{sfx}
    JOIN v2{sfx} ON v2{sfx}.i = v1{sfx}.i
    JOIN v3{sfx} ON v3{sfx}.i = v1{sfx}.i
    CROSS JOIN al{sfx}"""

    return f"""
    WITH {_pi_chain_sql(_EL_CORPUS_BODY)},
    {_pi_chain_sql(_EL_PLANTED_BODY, "_p")},
    dirs AS (SELECT i, CAST(1 + (i % 3) AS HUGEINT) AS dv
             FROM (SELECT DISTINCT i FROM cfull)),
    {_align("")},
    {_align("_p")}
    {_pop_select("corpus", "")}
    UNION ALL
    {_pop_select("perturbed", "_p")}
"""


def _corpus_el(e: DataFrame) -> DataFrame:
    return e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    ).select("vec_id", "dim",
             F.round(F.col("x").cast("double") * 1e3).cast("long")
             .alias("q"))


def _planted_el(e: DataFrame) -> DataFrame:
    """The deterministic anisotropic sub-population — see module
    docstring (q depends only on (vec_id, dim), so both engines build
    it coordinate-for-coordinate identically)."""
    return (
        e.filter(F.col("vec_id") % _PLANT_MOD == 0)
        .select("vec_id", F.posexplode("embedding").alias("dim", "x"))
        .select((F.col("vec_id") + _PLANT_ID_OFFSET).alias("vec_id"),
                "dim",
                (F.when(F.col("vec_id") % _PLANT_SIGN_MOD == 0, 2)
                 .otherwise(-2)
                 * (F.lit(1) + F.col("dim") % 3) * _PLANT_AMP)
                .cast("long").alias("q"))
    )


def _pi_fold(spark: SparkSession, el: DataFrame) -> list[dict[int, int]]:
    """The exact integer power-iteration fold over one population:
    reduce to the 64×64 covariance relation ONCE (scoped persist), then
    _PI_STEPS joins against the broadcast 64-row carried vector with the
    renormalization on the DRIVER (the kmeans_micro driver-sized
    contract; floor division on non-negative ints matches ``//``)."""
    a = el.select("vec_id", F.col("dim").alias("dim_i"),
                  F.col("q").alias("qa"))
    b = el.select("vec_id", F.col("dim").alias("dim_j"),
                  F.col("q").alias("qb"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    pr = (
        a.join(b, "vec_id")
        .filter(F.col("dim_i") <= F.col("dim_j"))
        .groupBy("dim_i", "dim_j")
        .agg(F.count("*").alias("n"),
             F.sum(dec(F.col("qa"))).alias("si"),
             F.sum(dec(F.col("qb"))).alias("sj"),
             F.sum(dec(F.col("qa")) * F.col("qb")).alias("p"))
    )
    c_expr = (dec(F.col("n")) * F.col("p")
              - F.col("si") * F.col("sj")).alias("c")
    cfull = (
        pr.select(F.col("dim_i").alias("i"), F.col("dim_j").alias("j"),
                  c_expr)
        .unionByName(
            pr.filter(F.col("dim_i") < F.col("dim_j"))
            .select(F.col("dim_j").alias("i"), F.col("dim_i").alias("j"),
                    c_expr))
    )
    from .operators.materialize import scoped_persist

    cfull = scoped_persist(cfull)
    v = {i: _V_SCALE for i in range(_DIM)}   # v0 = 1000 * ones
    vs: list[dict[int, int]] = []
    for _ in range(_PI_STEPS):
        vdf = local_frame(
            spark, [(j, str(val)) for j, val in sorted(v.items())],
            "j int, v_str string").select(
                "j", F.col("v_str").cast("decimal(38,0)").alias("v"))
        w_rows = (cfull.join(F.broadcast(vdf), "j")
                  .groupBy("i")
                  .agg(F.sum(F.col("c") * F.col("v")).alias("w"))
                  .collect())
        w = {int(r["i"]): int(r["w"]) for r in w_rows}
        m = max(max(abs(x) for x in w.values()), 1)
        v = {i: (1 if x >= 0 else -1) * ((abs(x) * _V_SCALE) // m)
             for i, x in w.items()}
        vs.append(dict(v))
    return vs


def _align_cos2_bp(v3: dict[int, int]) -> int:
    """floor(10^4·cos²(v3, d)) against the planted direction
    d_j = 1 + j mod 3 — arbitrary-precision Python ints, bit-identical
    to the oracle's HUGEINT rational."""
    dot = sum(v * (1 + i % 3) for i, v in v3.items())
    n3 = sum(v * v for v in v3.values())
    nd = sum((1 + i % 3) ** 2 for i in v3)
    return (dot * dot * 10000) // (n3 * nd)


@register("covariance_power_iteration", _pi_gate_sql())
def covariance_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer power iteration over the exact covariance of BOTH
    populations (flat corpus = algebra check; _PERTURB planted
    anisotropy = convergence check, VERDICT r9 #3) — see module
    docstring.  Each population reduces ONCE to its 64×64 covariance
    relation; the C·v folds and the driver renormalization are shared
    via ``_pi_fold``."""
    e = t(spark, sf_dir, "embeddings")
    el = _corpus_el(e)
    rows = []
    for pop, eldf in (("corpus", el),
                      ("perturbed", el.unionByName(_planted_el(e)))):
        vs = _pi_fold(spark, eldf)
        align = _align_cos2_bp(vs[-1])
        rows += [(pop, i, int(vs[0][i]), int(vs[1][i]), int(vs[2][i]),
                  align) for i in sorted(vs[0])]
    return local_frame(
        spark, rows, "population string, dim long, v1 long, v2 long, v3 long, "
              "align_cos2_bp long")


# =========================================================================
# quality_filter_venn — do the three cheap filters agree?
# =========================================================================

_VENN_SQL = f"""
    WITH {_CCNET_RANKED_CTES},
    gt AS (
        SELECT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents) WHERE tok <> ''
    ),
    gc AS (SELECT doc_id, tok, COUNT(*) AS c FROM gt GROUP BY 1, 2),
    gm AS (
        SELECT doc_id, SUM(c) AS n_words, SUM(len(tok) * c) AS n_chars,
               COUNT(*) AS n_distinct, MAX(c) AS top_tok,
               SUM(CASE WHEN tok IN ('the', 'a') THEN c ELSE 0 END)
                   AS stop_hits
        FROM gc GROUP BY 1
    ),
    gflag AS (
        SELECT d.doc_id,
               CASE WHEN gm.n_words BETWEEN 30 AND 2500
                     AND (gm.n_chars * 100) // gm.n_words
                         BETWEEN 300 AND 1000
                     AND gm.n_distinct * 5 > gm.n_words
                     AND gm.top_tok * 100 < gm.n_words * 15
                     AND gm.stop_hits >= 2
                THEN 0 ELSE 1 END AS gopher_reject
        FROM documents d LEFT JOIN gm USING (doc_id)
    ),
    blf AS (
        SELECT doc_id,
               CASE WHEN len(list_filter(
                        list_filter(string_split(text, ' '),
                                    x -> x <> ''),
                        x -> x IN ({_bl_sql_list()}))) > 0
                    THEN 1 ELSE 0 END AS blocklist_hit
        FROM documents
    ),
    tailf AS (
        SELECT d.doc_id,
               CASE WHEN r.bucket = 3 THEN 1 ELSE 0 END AS ccnet_tail
        FROM documents d LEFT JOIN ranked r USING (doc_id)
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM documents)
    SELECT g.gopher_reject, b.blocklist_hit, t.ccnet_tail,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(round(1e4 * COUNT(*) / n.total) AS BIGINT) AS share_bp
    FROM gflag g
    JOIN blf b USING (doc_id)
    JOIN tailf t USING (doc_id)
    CROSS JOIN n
    GROUP BY 1, 2, 3, n.total
"""


@register("quality_filter_venn", _VENN_SQL)
def quality_filter_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-filter agreement datasheet — see module docstring.  Every
    signal reuses its standalone gate's Spark construction
    (_gopher_flags_core, the wave-36 blocklist expression,
    _ccnet_bucketed), so this table can never disagree with the
    filters it crosses (cross-gate pins in tests/test_llm37.py)."""
    from .registry_llm27 import _ccnet_bucketed
    from .registry_llm5 import _gopher_flags_core

    docs = t(spark, sf_dir, "documents")
    g = (docs.select("doc_id")
         .join(_gopher_flags_core(spark, sf_dir).select("doc_id", "keep"),
               "doc_id", "left")
         .select("doc_id",
                 F.when(F.coalesce("keep", F.lit(0)) == 1, 0).otherwise(1)
                 .alias("gopher_reject")))
    bl = ", ".join(f"'{w}'" for w in _BLOCKLIST)
    b = docs.select(
        "doc_id",
        F.when(F.expr(
            f"size(filter(filter(split(text, ' '), x -> x != ''), "
            f"x -> x IN ({bl}))) > 0"), 1).otherwise(0)
        .alias("blocklist_hit"))
    tl = (docs.select("doc_id")
          .join(_ccnet_bucketed(spark, sf_dir)
                .select("doc_id", "bucket"), "doc_id", "left")
          .select("doc_id",
                  F.when(F.col("bucket") == 3, 1).otherwise(0)
                  .alias("ccnet_tail")))
    n = docs.agg(F.count("*").cast("long").alias("total"))
    return (
        g.join(b, "doc_id").join(tl, "doc_id")
        .groupBy("gopher_reject", "blocklist_hit", "ccnet_tail")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .crossJoin(F.broadcast(n))
        .select("gopher_reject", "blocklist_hit", "ccnet_tail", "n_docs",
                F.round(F.lit(1e4) * F.col("n_docs") / F.col("total"))
                .cast("long").alias("share_bp"))
    )
