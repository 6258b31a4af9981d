"""Serving-refinement operator batch: the two FAISS production rungs
the compressed ANN ladder still lacked, the DSIR data-selection
operator, and IVF tombstone COMPACTION.

1. ``ann_batch_ivfpq_refine_topk`` — two-stage retrieval (FAISS
   ``IndexRefineFlat``): the PQ-ADC scan produces a per-query shortlist
   of ``_R_REFINE`` candidates from 8-byte codes, and ONLY the
   shortlist rows are re-scored with exact distances against the raw
   vectors. At 100 TB this is the serving economy that makes
   compression free at the quality level: the exact side touches
   batch×R rows, never batch×candidates.
2. ``ann_batch_ivfpq_residual_topk`` — RESIDUAL product quantization
   (the true FAISS IVFADC, Jégou et al. 2011): vectors are encoded as
   quantized residuals ``x − centroid(list(x))`` instead of raw
   values, and each query builds one LUT per probed list from its own
   residual against that list's centroid. Residuals concentrate near
   zero, so the same code budget spends its resolution where the
   data actually is — ``ann_pq_variant_recall_audit`` prices exactly
   that claim against the raw-PQ rung.
3. ``importance_resample_dsir`` — Data Selection via Importance
   Resampling (Xie et al. 2023): hashed n-gram bucket counts estimate
   a target and a raw feature distribution, every document scores
   Σ c_b·log(p_target(b)/p_raw(b)), and the top-N by importance weight
   are selected. The log-ratio table is quantized to integers on the
   driver (a bounded 64-row collect — the BPE-merge-table precedent),
   so per-doc scoring is pure integer arithmetic: bit-stable at any
   parallelism.
4. ``ivf_index_compact`` / ``ivf_probe_topk_post_compact`` — the
   maintenance step the round-5 tombstone DELETE deliberately deferred:
   lists whose live fraction fell below the threshold are REWRITTEN
   without their dead rows (tombstones physically purged), lists above
   it keep serve-time filtering. The post-compact serve registers the
   post-delete oracle VERBATIM: compaction changes representation,
   never results.

Reference parity note: the reference notebook (Weather_API.py) has
none of this — the batch extends the charter LLM-data-pipeline surface
(SURVEY.md §7.2 M4/M5) along the round-4 verdict's production-serving
axis (upsert → refresh → delete → COMPACT → serve; raw-PQ → refine →
residual-PQ).

Determinism: exact scaled-integer squared-L2 everywhere; residual ADC
sums ride DECIMAL(38,0) (residuals double the raw value range, so the
64-dim worst case 64·(4e8)² ≈ 1.0e19 clears int64 — same rule as
ivf_lloyd_convergence) with one correctly-rounded double cast at the
output boundary; fully tie-broken ranks; identical aliases on both
engines.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from weather_analysis_bigdata__spark.functions.distributed import (
    grouped_topk,
    ranked_topk,
)
from weather_analysis_bigdata__spark.functions.textops import (
    SQL_TOKENS,
    hex15_to_long,
    md5s,
    sql_hex15_to_long,
    sql_word_ngrams,
    tokens,
    word_ngrams,
)
from weather_analysis_bigdata__spark.functions.vectorops import scaled_vec
from weather_analysis_bigdata__spark.queries_llmops import (
    _ivf_assign,
    _ivf_centroids,
    _ivf_probes,
    _IVF_PROBES,
    _IVF_QUERIES,
    _IVF_TOPK,
    _prepare_ivf,
    _prepare_ivf_pq,
    _sqdist_col,
    _sql_sqdist,
    _SQL_FLOORDIV,
    _SQL_IVF_SERVE,
    _SQL_SVA,
    _SQL_VPOS,
    _vpos,
)
from weather_analysis_bigdata__spark.queries_round4 import (
    _batch_adc_dists,
    _batch_ivf_topk,
    _BATCH_K,
    _BATCH_PROBES,
    _BATCH_QUERIES,
    _SQL_ADC_CTES,
    _SQL_BATCH_BASE,
)
from weather_analysis_bigdata__spark.queries_round5 import (
    _DELETE_MOD,
    _SQL_POST_DELETE_SERVE,
)
from weather_analysis_bigdata__spark.registry import register
from weather_analysis_bigdata__spark.sources.files import load_table
from weather_analysis_bigdata__spark.streaming.replay import replay_segments

_R_REFINE = 30  # ADC shortlist size re-scored exactly (3× the final k)


# ---------------------------------------------------------------------------
# Refine rung: ADC shortlist → exact re-rank (FAISS IndexRefineFlat)
# ---------------------------------------------------------------------------
@register(
    "ann_batch_ivfpq_refine_topk",
    oracle=f"""
    {_SQL_BATCH_BASE},
    {_SQL_ADC_CTES},
    shortlist AS (
      SELECT query_id, neighbor_id, adc_dist FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY adc_dist, neighbor_id) AS srn
        FROM adc) WHERE srn <= {_R_REFINE}
    )
    SELECT query_id, neighbor_id, dist, adc_dist, rn FROM (
      SELECT s.query_id, s.neighbor_id, p.dist, s.adc_dist,
             CAST(row_number() OVER (
               PARTITION BY s.query_id
               ORDER BY p.dist, s.neighbor_id) AS BIGINT) AS rn
      FROM shortlist s
      JOIN pair p ON p.query_id = s.query_id AND p.cand_id = s.neighbor_id)
    WHERE rn <= {_BATCH_K}
    """,
    doc="Two-stage batch retrieval — FAISS IndexRefineFlat composed "
    "over IVFADC: stage 1 scores every probed-list candidate by PQ "
    f"asymmetric distance from 8-byte codes and keeps a {_R_REFINE}-"
    "candidate shortlist per query; stage 2 re-scores ONLY the "
    "shortlist with exact scaled-integer distances against the raw "
    f"vectors and returns the top-{_BATCH_K}. The refine join touches "
    f"batch×{_R_REFINE} raw vectors instead of batch×|probed lists| — "
    "at 100 TB the exact side is a bounded point-lookup join (shortlist "
    "ids → vector store), so the quality of exact ranking rides the "
    "cost profile of the compressed scan. Both rankings per-query via "
    "grouped_topk (partitioned windows). Compare "
    "ann_batch_ivfpq_adc_topk (ADC-only ranking) and "
    "ann_batch_probe_topk (exact on ALL candidates).",
    prepare=_prepare_ivf_pq,
)
def ann_batch_ivfpq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    adc = _batch_adc_dists(spark, sf_dir)
    shortlist = grouped_topk(
        adc, ["query_id"], [F.col("adc_dist"), F.col("neighbor_id")], _R_REFINE
    ).drop("rank")
    sv = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", scaled_vec("embedding").alias("sva")
    )
    q = sv.filter(F.col("vec_id") < _BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("sva").alias("q_sva")
    )
    # Exact re-rank of the shortlist only: batch×R rows join the vector
    # store by id (point lookups); the query side broadcasts.
    refined = (
        shortlist.join(sv, F.col("neighbor_id") == F.col("vec_id"))
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _sqdist_col(F.col("q_sva"), F.col("sva")).alias("dist"),
            "adc_dist",
        )
    )
    return grouped_topk(
        refined, ["query_id"], [F.col("dist"), F.col("neighbor_id")], _BATCH_K
    ).select(
        "query_id",
        "neighbor_id",
        "dist",
        "adc_dist",
        F.col("rank").alias("rn"),
    )


# ---------------------------------------------------------------------------
# Residual PQ (true IVFADC): codebooks over x − centroid(list(x))
# ---------------------------------------------------------------------------
def _cent_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_label, c_pos, c_int): the persisted centroid arrays exploded
    back to per-dimension rows (640 rows — broadcast-sized)."""
    return (
        _ivf_centroids(spark, sf_dir)
        .select("c_label", F.posexplode("c_arr").alias("pos0", "c_int"))
        .select("c_label", (F.col("pos0") + 1).alias("c_pos"), "c_int")
    )


def _residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, part_label, pos, sub, r_int): each vector's
    exact residual against its OWN list's centroid — one fact-scale
    join on vec_id plus a broadcast join on (list, pos)."""
    vpos = _vpos(spark, sf_dir)
    assign = _ivf_assign(spark, sf_dir)
    cpos = _cent_pos(spark, sf_dir)
    return (
        vpos.join(assign, F.col("vec_id") == F.col("cand_id"))
        .join(
            F.broadcast(cpos),
            (F.col("part_label") == F.col("c_label"))
            & (F.col("pos") == F.col("c_pos")),
        )
        .select(
            "vec_id",
            "label",
            "part_label",
            "pos",
            F.floor((F.col("pos") - 1) / 8).cast("int").alias("sub"),
            (F.col("v_int") - F.col("c_int")).alias("r_int"),
        )
    )


def _pqres_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED residual codebook (sub, pos, code, rc_int): per-
    subspace floor-mean of the residuals of each training label — the
    residual twin of the raw codebook inside _pq_dists_build."""
    from weather_analysis_bigdata__spark.operators.index_store import (
        persisted_index,
    )

    def build() -> DataFrame:
        res = _residuals(spark, sf_dir)
        s, n = F.sum("r_int"), F.count(F.lit(1))
        floordiv = (s - (((s % n) + n) % n)) / n
        return res.groupBy(
            "sub", "pos", F.col("label").alias("code")
        ).agg(floordiv.cast("long").alias("rc_int"))

    return persisted_index(spark, sf_dir, "pqres_codebook_8", build)


def _pqres_dists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED per-(vec, sub, code) residual distances — the residual
    twin of _pq_dists: corpus codes (argmin) read it."""
    from weather_analysis_bigdata__spark.operators.index_store import (
        persisted_index,
    )

    def build() -> DataFrame:
        res = _residuals(spark, sf_dir).select("vec_id", "sub", "pos", "r_int")
        rcb = _pqres_codebook(spark, sf_dir)
        return (
            res.join(F.broadcast(rcb), ["sub", "pos"])
            .groupBy("vec_id", "sub", "code")
            .agg(
                F.sum(
                    (F.col("r_int") - F.col("rc_int"))
                    * (F.col("r_int") - F.col("rc_int"))
                ).alias("d")
            )
        )

    return persisted_index(spark, sf_dir, "pqres_dists_8", build)


def _prepare_ivf_pqres(spark: SparkSession, sf_dir: str) -> None:
    """Bench prepare hook: residual codebook + distance indexes (and
    their IVF prerequisites) built off the timed path."""
    _prepare_ivf(spark, sf_dir)
    _pqres_dists(spark, sf_dir)


#: Residual-PQ CTE chain appended to ``_SQL_BATCH_BASE``: residuals,
#: residual codebook, corpus codes, per-(query, probed-list) LUTs, and
#: the candidate ADC sum. Mirrors ``_SQL_ADC_CTES`` over residuals —
#: the LUT gains a part_label key because a query's residual differs
#: per probed list.
_SQL_RESIDUAL_ADC_CTES = f"""res AS (
      SELECT v.vec_id, v.label, a.part_label, v.pos,
             (v.pos - 1) // 8 AS sub, v.v_int - c.c_int AS r_int
      FROM vpos v
      JOIN assign a ON a.cand_id = v.vec_id
      JOIN cent c ON c.c_label = a.part_label AND c.pos = v.pos
    ),
    rcb AS (
      SELECT sub, pos, label AS code,
             CAST({_SQL_FLOORDIV.format(s='SUM(r_int)', n='COUNT(*)')} AS BIGINT)
               AS rc_int
      FROM res GROUP BY sub, pos, label
    ),
    rdists AS (
      SELECT r.vec_id, r.sub, cb.code,
             CAST(SUM((r.r_int - cb.rc_int) * (r.r_int - cb.rc_int))
                  AS BIGINT) AS d
      FROM res r JOIN rcb cb ON cb.sub = r.sub AND cb.pos = r.pos
      GROUP BY r.vec_id, r.sub, cb.code
    ),
    rcodes AS (
      SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d, code) AS rn
        FROM rdists)
      WHERE rn = 1
    ),
    qres AS (
      SELECT p.query_id, p.probe_label, v.pos, (v.pos - 1) // 8 AS sub,
             v.v_int - c.c_int AS qr_int
      FROM probes p
      JOIN vpos v ON v.vec_id = p.query_id
      JOIN cent c ON c.c_label = p.probe_label AND c.pos = v.pos
    ),
    rlut AS (
      SELECT q.query_id, q.probe_label AS part_label, q.sub, cb.code,
             CAST(SUM((q.qr_int - cb.rc_int) * (q.qr_int - cb.rc_int))
                  AS BIGINT) AS part
      FROM qres q JOIN rcb cb ON cb.sub = q.sub AND cb.pos = q.pos
      GROUP BY q.query_id, q.probe_label, q.sub, cb.code
    ),
    candl AS (
      SELECT p.query_id, a.cand_id, a.part_label
      FROM probes p JOIN assign a ON p.probe_label = a.part_label
      WHERE a.cand_id <> p.query_id
    ),
    radc AS (
      SELECT cd.query_id, cd.cand_id AS neighbor_id,
             CAST(SUM(CAST(l.part AS DECIMAL(38, 0))) AS DECIMAL(38, 0))
               AS adc_dec
      FROM candl cd
      JOIN rcodes c ON c.vec_id = cd.cand_id
      JOIN rlut l ON l.query_id = cd.query_id
             AND l.part_label = cd.part_label
             AND l.sub = c.sub AND l.code = c.code
      GROUP BY cd.query_id, cd.cand_id
    )"""


def _residual_adc_dists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, adc_dec): residual-PQ asymmetric
    distance for every (batch query × probed-list candidate) pair, from
    the PERSISTED residual codebook + distance indexes. DECIMAL(38,0)
    sums — residuals double the raw value range, so the 64-dim worst
    case 64·(4e8)² ≈ 1.0e19 clears int64."""
    cent_arr = _ivf_centroids(spark, sf_dir)
    sv = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", scaled_vec("embedding").alias("sva")
    )
    q = sv.filter(F.col("vec_id") < _BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("sva").alias("q_sva")
    )
    probe_scores = q.crossJoin(F.broadcast(cent_arr)).select(
        "query_id",
        "c_label",
        _sqdist_col(F.col("q_sva"), F.col("c_arr")).alias("dist"),
    )
    probes = grouped_topk(
        probe_scores,
        ["query_id"],
        [F.col("dist"), F.col("c_label")],
        _BATCH_PROBES,
    ).select("query_id", F.col("c_label").alias("probe_label"))
    # Per-(query, probed list) LUT: the query's residual against THAT
    # list's centroid, scored against every codebook entry —
    # batch×nprobe×8×10 rows, broadcast-sized by construction.
    qpos = _vpos(spark, sf_dir).filter(F.col("vec_id") < _BATCH_QUERIES)
    cpos = _cent_pos(spark, sf_dir)
    rcb = _pqres_codebook(spark, sf_dir)
    qres = (
        F.broadcast(probes)
        .join(
            qpos.select(
                F.col("vec_id").alias("query_id"), "pos", "v_int"
            ),
            "query_id",
        )
        .join(
            F.broadcast(cpos),
            (F.col("probe_label") == F.col("c_label"))
            & (F.col("pos") == F.col("c_pos")),
        )
        .select(
            "query_id",
            "probe_label",
            "pos",
            F.floor((F.col("pos") - 1) / 8).cast("int").alias("sub"),
            (F.col("v_int") - F.col("c_int")).alias("qr_int"),
        )
    )
    rlut = (
        qres.join(F.broadcast(rcb), ["sub", "pos"])
        .groupBy(
            "query_id",
            F.col("probe_label").alias("part_label"),
            "sub",
            "code",
        )
        .agg(
            F.sum(
                (F.col("qr_int") - F.col("rc_int"))
                * (F.col("qr_int") - F.col("rc_int"))
            ).alias("part")
        )
    )
    # Corpus codes from the persisted residual distance index.
    rdists = _pqres_dists(spark, sf_dir)
    w = Window.partitionBy("vec_id", "sub").orderBy("d", "code")
    rcodes = (
        rdists.select(
            "vec_id", "sub", "code", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # Candidates KEEP their list id — the LUT join is keyed by it.
    candl = (
        F.broadcast(probes)
        .join(
            _ivf_assign(spark, sf_dir),
            F.col("probe_label") == F.col("part_label"),
        )
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", "part_label")
    )
    return (
        candl.join(rcodes, F.col("cand_id") == F.col("vec_id"))
        .join(F.broadcast(rlut), ["query_id", "part_label", "sub", "code"])
        .groupBy("query_id", F.col("cand_id").alias("neighbor_id"))
        .agg(
            F.sum(F.col("part").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("adc_dec")
        )
    )


@register(
    "ann_batch_ivfpq_residual_topk",
    oracle=f"""
    {_SQL_BATCH_BASE},
    {_SQL_RESIDUAL_ADC_CTES}
    SELECT query_id, neighbor_id,
           CAST(adc_dec AS DOUBLE) / 10000000000000000.0 AS adc_sqdist, rn
    FROM (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY adc_dec, neighbor_id) AS BIGINT) AS rn
      FROM radc)
    WHERE rn <= {_BATCH_K}
    """,
    doc="Batch IVFADC with RESIDUAL encoding — the true FAISS IVFADC "
    "(Jégou et al. 2011: quantize x − centroid(list(x)), not x): the "
    "PERSISTED residual codebook spends its resolution where post-"
    "routing data actually lives (residuals concentrate near zero), "
    "and each query builds one LUT PER PROBED LIST from its residual "
    "against that list's centroid — batch×nprobe×8×10 rows, broadcast. "
    "Candidates carry their list id so the ADC join is keyed "
    "(query, list, sub, code); scoring still never touches raw "
    "vectors. ADC sums ride DECIMAL(38,0) (residuals double the raw "
    "range; 64·(4e8)² ≈ 1.0e19 clears int64) with one correctly-"
    "rounded double cast at the boundary. "
    "ann_pq_variant_recall_audit prices this rung against the raw-PQ "
    "rung on identical candidates.",
    prepare=_prepare_ivf_pqres,
)
def ann_batch_ivfpq_residual_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    radc = _residual_adc_dists(spark, sf_dir)
    return grouped_topk(
        radc, ["query_id"], [F.col("adc_dec"), F.col("neighbor_id")], _BATCH_K
    ).select(
        "query_id",
        "neighbor_id",
        (F.col("adc_dec").cast("double") / 1e16).alias("adc_sqdist"),
        F.col("rank").alias("rn"),
    )


def _prepare_ivf_pqres_both(spark: SparkSession, sf_dir: str) -> None:
    _prepare_ivf_pq(spark, sf_dir)
    _pqres_dists(spark, sf_dir)


@register(
    "ann_pq_variant_recall_audit",
    oracle=f"""
    {_SQL_BATCH_BASE},
    {_SQL_ADC_CTES},
    {_SQL_RESIDUAL_ADC_CTES},
    truth AS (
      SELECT query_id, cand_id AS neighbor_id FROM ivf
      WHERE rn <= {_BATCH_K}
    ),
    raw_k AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY adc_dist, neighbor_id) AS rn
        FROM adc) WHERE rn <= {_BATCH_K}
    ),
    res_k AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY adc_dec, neighbor_id) AS rn
        FROM radc) WHERE rn <= {_BATCH_K}
    ),
    refine_k AS (
      SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
               row_number() OVER (
                 PARTITION BY s.query_id
                 ORDER BY p.dist, s.neighbor_id) AS rn
        FROM (
          SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY adc_dist, neighbor_id) AS srn
            FROM adc) WHERE srn <= {_R_REFINE}) s
        JOIN pair p ON p.query_id = s.query_id
               AND p.cand_id = s.neighbor_id)
      WHERE rn <= {_BATCH_K}
    )
    SELECT variant, hits, possible FROM (
      SELECT 'pq_raw' AS variant,
             CAST((SELECT COUNT(*) FROM raw_k r
                   JOIN truth t ON t.query_id = r.query_id
                          AND t.neighbor_id = r.neighbor_id) AS BIGINT)
               AS hits,
             CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS possible
      UNION ALL
      SELECT 'pq_raw_refined' AS variant,
             CAST((SELECT COUNT(*) FROM refine_k r
                   JOIN truth t ON t.query_id = r.query_id
                          AND t.neighbor_id = r.neighbor_id) AS BIGINT)
               AS hits,
             CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS possible
      UNION ALL
      SELECT 'pq_residual' AS variant,
             CAST((SELECT COUNT(*) FROM res_k r
                   JOIN truth t ON t.query_id = r.query_id
                          AND t.neighbor_id = r.neighbor_id) AS BIGINT)
               AS hits,
             CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS possible)
    ORDER BY variant
    """,
    doc="Quantization-loss audit for the compressed serving rungs: how "
    f"many of the EXACT top-{_BATCH_K} (over the same probed "
    "candidates — every variant sees identical candidate sets, so the "
    "delta is pure scoring quality, not routing) does each ranking "
    "keep? 'pq_raw' = label-trained codebook over raw vectors "
    "(ann_batch_ivfpq_adc_topk); 'pq_raw_refined' = that shortlist "
    f"exact-reranked (ann_batch_ivfpq_refine_topk, R={_R_REFINE}); "
    "'pq_residual' = the same code budget over residuals "
    "(ann_batch_ivfpq_residual_topk). hits/possible per variant, "
    "exact integers — the table an operator reads before choosing an "
    "encoding. Measured at sf0.01: refine recovers ~2× the raw-ADC "
    "hit rate (646 vs 328 of 1000) for a batch×R exact join; "
    "residual encoding does NOT "
    "beat raw here because the corpus's label structure IS its "
    "cluster structure, so subtracting list centroids removes the "
    "very signal the label-keyed codebook indexes — the audit "
    "existing is the point. Candidate-economics twin: "
    "ann_ladder_candidate_audit.",
    prepare=_prepare_ivf_pqres_both,
)
def ann_pq_variant_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_analysis_bigdata__spark.session import pin

    # truth feeds FOUR plan branches (the possible count + three
    # variant-hit broadcasts) and adc feeds two (raw_k + the refine
    # shortlist) — unpinned, each branch re-ran the full exact-topk /
    # ADC-join subtree (guide §1.2: don't compute things twice). Both
    # are batch-bounded (batch×k and batch×candidates), so the pins
    # are small at any corpus size.
    truth = (
        _batch_ivf_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .transform(pin)
    )
    adc = _batch_adc_dists(spark, sf_dir).transform(pin)
    raw_k = grouped_topk(
        adc,
        ["query_id"],
        [F.col("adc_dist"), F.col("neighbor_id")],
        _BATCH_K,
    ).select("query_id", "neighbor_id")
    # Refined variant: the refine rung's exact shortlist re-rank.
    sv = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", scaled_vec("embedding").alias("sva")
    )
    q = sv.filter(F.col("vec_id") < _BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("sva").alias("q_sva")
    )
    shortlist = grouped_topk(
        adc, ["query_id"], [F.col("adc_dist"), F.col("neighbor_id")],
        _R_REFINE,
    ).drop("rank")
    refined = (
        shortlist.join(sv, F.col("neighbor_id") == F.col("vec_id"))
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _sqdist_col(F.col("q_sva"), F.col("sva")).alias("dist"),
        )
    )
    refine_k = grouped_topk(
        refined, ["query_id"], [F.col("dist"), F.col("neighbor_id")],
        _BATCH_K,
    ).select("query_id", "neighbor_id")
    res_k = grouped_topk(
        _residual_adc_dists(spark, sf_dir),
        ["query_id"],
        [F.col("adc_dec"), F.col("neighbor_id")],
        _BATCH_K,
    ).select("query_id", "neighbor_id")
    possible = truth.agg(F.count(F.lit(1)).alias("possible"))

    def hits(variant: str, ranked: DataFrame) -> DataFrame:
        # truth is batch×k rows — broadcast it so each variant's
        # intersection is a map-side hash join, never an SMJ exchange.
        h = ranked.join(F.broadcast(truth), ["query_id", "neighbor_id"]).agg(
            F.count(F.lit(1)).cast("long").alias("hits")
        )
        return h.crossJoin(F.broadcast(possible)).select(
            F.lit(variant).alias("variant"),
            "hits",
            F.col("possible").cast("long").alias("possible"),
        )

    return (
        hits("pq_raw", raw_k)
        .unionAll(hits("pq_raw_refined", refine_k))
        .unionAll(hits("pq_residual", res_k))
    )


# ---------------------------------------------------------------------------
# DSIR: hashed n-gram importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------
_DSIR_BUCKETS = 64
_DSIR_TARGET = ("src0", "src1")  # the 'high-quality' exemplar sources
_DSIR_TOPN = 25
_DSIR_SCALE = 1_000_000
_DSIR_SALT = "dsir:"


def _dsir_llr(counts: dict[int, tuple[int, int]]) -> tuple[dict[int, int], int]:
    """Quantized per-bucket log-likelihood ratios from exact (target,
    raw) feature counts, plus the per-feature normalization constant.
    Both the Spark path and the oracle generator call THIS function on
    engine-computed exact integers, so the single non-integer op
    (math.log on CPython) is bit-identical by construction."""
    t_total = sum(t for t, _ in counts.values())
    r_total = sum(r for _, r in counts.values())
    llr = {
        b: math.floor(
            _DSIR_SCALE
            * (
                math.log(counts.get(b, (0, 0))[0] + 1)
                - math.log(counts.get(b, (0, 0))[1] + 1)
            )
        )
        for b in range(_DSIR_BUCKETS)
    }
    const = math.floor(
        _DSIR_SCALE
        * (
            math.log(r_total + _DSIR_BUCKETS)
            - math.log(t_total + _DSIR_BUCKETS)
        )
    )
    return llr, const


def _dsir_feat_sql() -> str:
    """CTE chain (tok → feats → bf): every unigram+bigram occurrence of
    every document hashed to its bucket."""
    in_list = ", ".join(f"'{s}'" for s in _DSIR_TARGET)
    return f"""tok AS (
      SELECT doc_id, source, {SQL_TOKENS.format(c='text')} AS toks
      FROM documents
    ),
    feats AS (
      SELECT doc_id, source, t.f AS f
      FROM tok,
           unnest(list_concat(toks, {sql_word_ngrams('toks', 2)})) AS t(f)
    ),
    bf AS (
      SELECT doc_id, source,
             CASE WHEN source IN ({in_list}) THEN 1 ELSE 0 END AS is_target,
             {sql_hex15_to_long(f"md5('{_DSIR_SALT}' || f)")}
               % {_DSIR_BUCKETS} AS bucket
      FROM feats
    )"""


def _dsir_oracle() -> str:
    """Generator oracle (the BPE pattern): bucket counts come from an
    independent DuckDB run over the corpus the sweep binds to, the LLR
    table is quantized by the shared _dsir_llr, and the emitted SQL
    carries the LLRs as literals."""
    import duckdb

    from weather_analysis_bigdata__spark.queries_llmops import _bpe_oracle_sf

    sf = _bpe_oracle_sf()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    rows = con.execute(
        f"""
        WITH {_dsir_feat_sql()}
        SELECT bucket, SUM(is_target) AS t_cnt, COUNT(*) AS r_cnt
        FROM bf GROUP BY bucket
        """
    ).fetchall()
    con.close()
    llr, const = _dsir_llr({int(b): (int(t), int(r)) for b, t, r in rows})
    values = ", ".join(f"({b}, {llr[b]})" for b in range(_DSIR_BUCKETS))
    return f"""
    WITH llr(bucket, llr_int) AS (VALUES {values}),
    {_dsir_feat_sql()},
    pdb AS (
      SELECT doc_id, source, bucket, COUNT(*) AS c
      FROM bf GROUP BY doc_id, source, bucket
    ),
    scored AS (
      SELECT p.doc_id, p.source,
             CAST(SUM(p.c) AS BIGINT) AS n_feats,
             CAST(SUM(p.c * l.llr_int) + SUM(p.c) * {const} AS BIGINT)
               AS score_int
      FROM pdb p JOIN llr l ON l.bucket = p.bucket
      GROUP BY p.doc_id, p.source
    )
    SELECT rank, doc_id, source, n_feats, score_int FROM (
      SELECT CAST(row_number() OVER (
               ORDER BY score_int DESC, doc_id) AS BIGINT) AS rank, *
      FROM scored)
    WHERE rank <= {_DSIR_TOPN}
    """


def _prepare_dsir(spark: SparkSession, sf_dir: str) -> None:
    """Bench prepare hook: train the persisted LLR estimator off the
    timed path (fn self-prepares regardless; _dsir_llr_table is
    defined below — resolved at call time)."""
    _dsir_llr_table(spark, sf_dir)


@register(
    "importance_resample_dsir",
    oracle=_dsir_oracle,
    prepare=_prepare_dsir,
    doc="DSIR data selection (Xie et al. 2023, 'Data Selection for "
    "Language Models via Importance Resampling'): hashed unigram+bigram "
    f"features ({_DSIR_BUCKETS} buckets, salted md5) estimate a TARGET "
    f"distribution (sources {_DSIR_TARGET} — the curated exemplar set) "
    "and the RAW corpus distribution; every document scores its "
    "importance weight Σ_b c_b·log((t_b+1)/(r_b+1)) + n·log((R+B)/(T+B)) "
    f"and the top-{_DSIR_TOPN} by weight are selected. The bucket LLR "
    "table is quantized to integers ON THE DRIVER from exact "
    f"distributed counts (a bounded {_DSIR_BUCKETS}-row collect — the "
    "BPE-merge-table precedent), so per-doc scoring is pure integer "
    "arithmetic: Σ c_b·llr_b rides a broadcast join, bit-stable at any "
    "parallelism. At 100 TB this is two linear passes (bucket counts, "
    "then per-doc scores) + a TakeOrdered top-N — the published recipe "
    "verbatim, with hash-bucketing doing the dimensionality reduction. "
    "Oracle: the BPE generator pattern — an independent DuckDB run "
    "computes the counts, the SAME quantizer emits literal LLRs.",
)
def importance_resample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _dsir_scored(spark, sf_dir)
    return ranked_topk(
        scored, [-F.col("score_int"), F.col("doc_id")], _DSIR_TOPN
    ).select("rank", "doc_id", "source", "n_feats", "score_int")


def _dsir_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, is_target, bucket): one row per hashed
    unigram/bigram occurrence — the shared feature stream of the LLR
    estimator (pass 1) and the per-doc scorer (pass 2)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    feats = F.concat(toks, word_ngrams(toks, 2))
    return d.select(
        "doc_id",
        "source",
        F.explode(feats).alias("f"),
    ).select(
        "doc_id",
        "source",
        F.col("source").isin(*_DSIR_TARGET).cast("int").alias("is_target"),
        (
            hex15_to_long(md5s(F.concat(F.lit(_DSIR_SALT), F.col("f"))))
            % _DSIR_BUCKETS
        ).alias("bucket"),
    )


def _dsir_llr_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED quantized LLR table (bucket, llr_int, const_int) —
    the trained DSIR estimator: pass-1 exact bucket counts, collected
    (64 rows, bounded — the BPE-merge-table precedent) and quantized
    on the driver by the same _dsir_llr the oracle generator uses,
    then published once per corpus like every other trained artifact
    (operators/index_store.py). Scoring consumers read a 64-row
    scan instead of re-training per call."""
    from weather_analysis_bigdata__spark.operators.index_store import (
        persisted_index,
    )

    def build() -> DataFrame:
        cnt_rows = (
            _dsir_features(spark, sf_dir)
            .groupBy("bucket")
            .agg(
                F.sum("is_target").cast("long").alias("t_cnt"),
                F.count(F.lit(1)).cast("long").alias("r_cnt"),
            )
            .collect()
        )
        llr, const = _dsir_llr(
            {
                int(r["bucket"]): (int(r["t_cnt"]), int(r["r_cnt"]))
                for r in cnt_rows
            }
        )
        return spark.createDataFrame(
            [(b, llr[b], const) for b in range(_DSIR_BUCKETS)],
            "bucket BIGINT, llr_int BIGINT, const_int BIGINT",
        )

    return persisted_index(spark, sf_dir, "dsir_llr64", build)


def _dsir_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_feats, score_int): every document's exact
    integer DSIR importance score from the PERSISTED estimator — the
    shared scoring stage of importance_resample_dsir (top-N selection)
    and training_corpus_manifest (score > 0 gate)."""
    llr_df = _dsir_llr_table(spark, sf_dir)
    return (
        _dsir_features(spark, sf_dir)
        .groupBy("doc_id", "source", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .join(F.broadcast(llr_df), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").cast("long").alias("n_feats"),
            (
                F.sum(F.col("c") * F.col("llr_int"))
                + F.sum(F.col("c") * F.col("const_int"))
            )
            .cast("long")
            .alias("score_int"),
        )
    )


# ---------------------------------------------------------------------------
# IVF tombstone COMPACTION: purge dead rows where the live fraction
# justifies the rewrite; serve results provably unchanged
# ---------------------------------------------------------------------------
#: Compact a list when live/total < 3/4 — compared in integers
#: (4·n_after < 3·n_before), never via a double threshold.
_COMPACT_NUM, _COMPACT_DEN = 3, 4


def _ivf_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED post-compaction index (cand_id, part_label, tombstoned,
    list_compacted): lists below the live-fraction threshold are stored
    WITHOUT their dead rows; lists above it keep every row plus the
    tombstone flag."""
    from weather_analysis_bigdata__spark.operators.index_store import (
        persisted_index,
    )

    def build() -> DataFrame:
        assign = _ivf_assign(spark, sf_dir)
        dead = (F.col("cand_id") % _DELETE_MOD == 0).alias("dead")
        flagged = assign.select("cand_id", "part_label", dead)
        stats = flagged.groupBy("part_label").agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum(F.when(F.col("dead"), 0).otherwise(1)).alias("n_after"),
        )
        compacted = stats.select(
            "part_label",
            (
                F.col("n_after") * _COMPACT_DEN
                < F.col("n_before") * _COMPACT_NUM
            ).alias("list_compacted"),
        )
        return (
            flagged.join(F.broadcast(compacted), "part_label")
            .filter(~(F.col("dead") & F.col("list_compacted")))
            .select(
                "cand_id",
                "part_label",
                (F.col("dead") & ~F.col("list_compacted")).alias(
                    "tombstoned"
                ),
                "list_compacted",
            )
        )

    return persisted_index(spark, sf_dir, "ivf_compacted", build)


def _prepare_ivf_compact(spark: SparkSession, sf_dir: str) -> None:
    _prepare_ivf(spark, sf_dir)
    _ivf_compacted(spark, sf_dir)


@register(
    "ivf_index_compact",
    oracle=f"""
    WITH {_SQL_VPOS.strip()},
    cent AS (
      SELECT label AS c_label, pos,
             CAST({_SQL_FLOORDIV.format(s='SUM(v_int)', n='COUNT(*)')} AS BIGINT)
               AS c_int
      FROM vpos GROUP BY label, pos
    ),
    cent_arr AS (
      SELECT c_label, list(c_int ORDER BY pos) AS c_arr
      FROM cent GROUP BY c_label
    ),
    sv AS (SELECT vec_id, {_SQL_SVA} AS sva FROM embeddings),
    assign AS (
      SELECT vec_id AS cand_id, c_label AS part_label FROM (
        SELECT s.vec_id, c.c_label,
               row_number() OVER (
                 PARTITION BY s.vec_id
                 ORDER BY {_sql_sqdist('s.sva', 'c.c_arr')}, c.c_label) AS rn
        FROM sv s CROSS JOIN cent_arr c) WHERE rn = 1
    ),
    per_list AS (
      SELECT part_label,
             COUNT(*) AS n_before,
             SUM(CASE WHEN cand_id % {_DELETE_MOD} = 0
                      THEN 1 ELSE 0 END) AS n_dead,
             SUM(CASE WHEN cand_id % {_DELETE_MOD} = 0
                      THEN 0 ELSE 1 END) AS n_after
      FROM assign GROUP BY part_label
    )
    SELECT CAST(part_label AS BIGINT) AS part_label,
           CAST(n_before AS BIGINT) AS n_before,
           n_after * {_COMPACT_DEN} < n_before * {_COMPACT_NUM}
             AS compacted,
           CAST(CASE WHEN n_after * {_COMPACT_DEN}
                          < n_before * {_COMPACT_NUM}
                     THEN n_dead ELSE 0 END AS BIGINT) AS n_purged,
           CAST(CASE WHEN n_after * {_COMPACT_DEN}
                          < n_before * {_COMPACT_NUM}
                     THEN n_after ELSE n_before END AS BIGINT)
             AS n_rows_stored,
           CAST(CASE WHEN n_after * {_COMPACT_DEN}
                          < n_before * {_COMPACT_NUM}
                     THEN 0 ELSE n_dead END AS BIGINT)
             AS n_tombstones_remaining
    FROM per_list
    """,
    doc="IVF tombstone COMPACTION — the maintenance step "
    "ivf_index_delete's live-fraction report exists to trigger: lists "
    f"whose live fraction dropped below {_COMPACT_NUM}/{_COMPACT_DEN} "
    "are REWRITTEN into the persisted index without their dead rows "
    "(tombstones physically purged — storage and serve-time filter "
    "cost reclaimed), lists above the threshold keep all rows plus the "
    "tombstone flag (rewriting them would cost more I/O than the "
    "filter saves). The threshold compares in integers "
    f"(4·live < 3·total), never a double. The mod-{_DELETE_MOD} delete "
    "set leaves per-list live fractions straddling the threshold "
    "(list sizes aren't multiples of 4), so BOTH branches execute. "
    "Report: per list, rows before, whether it compacted, rows purged, "
    "rows physically stored, tombstones remaining. "
    "ivf_probe_topk_post_compact proves serve results are unchanged. "
    "Completes the lifecycle: build → upsert → refresh → delete → "
    "COMPACT → serve.",
    prepare=_prepare_ivf_compact,
)
def ivf_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _ivf_compacted(spark, sf_dir)
    per_list = idx.groupBy(
        F.col("part_label").cast("long").alias("part_label")
    ).agg(
        F.count(F.lit(1)).alias("n_stored"),
        F.sum(F.col("tombstoned").cast("long")).alias("n_tomb"),
        F.max(F.col("list_compacted").cast("int")).alias("compacted_i"),
    )
    # Original list size: stored rows plus (for compacted lists) the
    # purged dead rows, which equal the list's mod-_DELETE_MOD hits —
    # recovered from the ORIGINAL persisted assignment, not re-derived.
    orig = (
        _ivf_assign(spark, sf_dir)
        .groupBy(F.col("part_label").cast("long").alias("part_label"))
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum(
                F.when(F.col("cand_id") % _DELETE_MOD == 0, 1).otherwise(0)
            ).alias("n_dead"),
        )
    )
    return per_list.join(orig, "part_label").select(
        "part_label",
        F.col("n_before").cast("long").alias("n_before"),
        (F.col("compacted_i") == 1).alias("compacted"),
        F.when(F.col("compacted_i") == 1, F.col("n_dead"))
        .otherwise(0)
        .cast("long")
        .alias("n_purged"),
        F.col("n_stored").cast("long").alias("n_rows_stored"),
        F.col("n_tomb").cast("long").alias("n_tombstones_remaining"),
    )


@register(
    "ivf_probe_topk_post_compact",
    # The post-delete serve oracle VERBATIM (queries_round5): compaction
    # changes the index representation, never the serve results.
    oracle=_SQL_POST_DELETE_SERVE,
    doc=f"IVF serve AFTER COMPACTION ({_IVF_QUERIES} queries × "
    f"{_IVF_PROBES} probes, top-{_IVF_TOPK}): candidates come from the "
    "persisted POST-COMPACTION index — compacted lists scan with no "
    "filter work at all (their dead rows no longer exist), uncompacted "
    "lists still filter tombstones — and the registered oracle is "
    "ivf_probe_topk_post_delete's SQL VERBATIM: a hash match proves "
    "the rewrite preserved every serve result while physically "
    "shrinking the cold lists. The economics this demonstrates at "
    "100 TB: deletes are cheap tombstones until a list's dead "
    "fraction crosses the threshold, then one bounded rewrite "
    "reclaims the space — serve latency never sees either step.",
    prepare=_prepare_ivf_compact,
)
def ivf_probe_topk_post_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    live = _ivf_compacted(spark, sf_dir).filter(~F.col("tombstoned"))
    probes = _ivf_probes(spark, sf_dir)
    sv = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", scaled_vec("embedding").alias("sva")
    )
    cands = (
        F.broadcast(probes)
        .join(live, F.col("probe_label") == F.col("part_label"))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
    )
    q = sv.select(
        F.col("vec_id").alias("query_id"), F.col("sva").alias("q_sva")
    ).filter(F.col("query_id") < _IVF_QUERIES)
    pair = (
        cands.join(sv, F.col("cand_id") == F.col("vec_id"))
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "cand_id",
            _sqdist_col(F.col("q_sva"), F.col("sva")).alias("dist"),
        )
    )
    return grouped_topk(
        pair, ["query_id"], [F.col("dist"), F.col("cand_id")], _IVF_TOPK,
        rank_col="rn",
    ).select(
        "query_id",
        F.col("cand_id").alias("neighbor_id"),
        (F.col("dist").cast("double") / 1e16).alias("sq_dist"),
        F.col("rn"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: cross-set n-gram collision (GPT-3 App. C /
# Llama-2 style), benchmark shingle index broadcast
# ---------------------------------------------------------------------------
_DECON_N = 6  # n-gram length (scaled-down 13-gram for the test corpus)
_DECON_DF_CAP = 10  # benchmark grams in more items than this are noise
_DECON_DROP = 3  # >= this many shared grams => drop (else flag)
_DECON_PLANT_MOD = 25  # every 25th train doc leaks an excerpt


def _sql_decon_base() -> str:
    """CTE chain: split assignment, train slice, benchmark = test slice
    + planted 8-token excerpts of every 25th train doc, distinct
    6-gram shingles of both sides, and the df-capped benchmark grams."""
    from weather_analysis_bigdata__spark.functions.textops import (
        SQL_TOKENS as _T,
    )

    split = sql_hex15_to_long("md5('split:' || CAST(doc_id AS VARCHAR))")
    return f"""labeled AS (
      SELECT doc_id, source, text, {split} % 100 AS bucket FROM documents
    ),
    train AS (
      SELECT doc_id, source, text FROM labeled WHERE bucket < 80
    ),
    bench AS (
      SELECT doc_id AS bench_id, text FROM labeled WHERE bucket >= 90
      UNION ALL
      SELECT doc_id + 9000000,
             array_to_string(({_T.format(c='text')})[3:10], ' ')
      FROM labeled
      WHERE bucket < 80 AND doc_id % {_DECON_PLANT_MOD} = 0
    ),
    tsh AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, unnest({sql_word_ngrams('toks', _DECON_N)}) AS gram
        FROM (SELECT doc_id, {_T.format(c='text')} AS toks FROM train))
    ),
    bsh AS (
      SELECT DISTINCT bench_id, gram FROM (
        SELECT bench_id, unnest({sql_word_ngrams('toks', _DECON_N)}) AS gram
        FROM (SELECT bench_id, {_T.format(c='text')} AS toks FROM bench))
    ),
    bshf AS (
      SELECT b.bench_id, b.gram FROM bsh b
      JOIN (SELECT gram FROM bsh GROUP BY gram
            HAVING COUNT(DISTINCT bench_id) <= {_DECON_DF_CAP}) g
        ON g.gram = b.gram
    )"""


@register(
    "benchmark_decontaminate",
    oracle=f"""
    WITH {_sql_decon_base()},
    hits AS (
      SELECT t.doc_id, t.gram, b.bench_id
      FROM tsh t JOIN bshf b ON b.gram = t.gram
    )
    SELECT h.doc_id, tr.source,
           CAST(COUNT(DISTINCT h.gram) AS BIGINT) AS n_shared_grams,
           CAST(COUNT(DISTINCT h.bench_id) AS BIGINT) AS n_bench_docs,
           COUNT(DISTINCT h.gram) >= {_DECON_DROP} AS dropped
    FROM hits h JOIN train tr ON tr.doc_id = h.doc_id
    GROUP BY h.doc_id, tr.source
    """,
    doc="Benchmark DECONTAMINATION (the GPT-3 Appendix C / Llama-2 "
    f"recipe, {_DECON_N}-grams standing in for 13-grams at test "
    "scale): training documents sharing n-grams with the evaluation "
    "set are flagged before training. The benchmark side is the "
    "held-out TEST split of train_val_test_split (the composition "
    "pipelines actually run: dedup leaks across split boundaries are "
    "exactly what this catches) plus PLANTED 8-token excerpts of "
    f"every {_DECON_PLANT_MOD}th train doc (a known leak the kernel "
    "must find — same planting pattern as dedup_containment). "
    f"Benchmark grams held by more than {_DECON_DF_CAP} items are "
    "dropped as boilerplate first (the published guard). Scale shape: "
    "benchmark suites are SMALL and FIXED, so the df-capped benchmark "
    "shingle index BROADCASTS to every executor and the train corpus "
    "streams past it — one map-side hash join at 100 TB, no shuffle "
    "of the fact table at all. Output per contaminated train doc: "
    "distinct shared grams, distinct benchmark items hit, and the "
    f"drop verdict (>= {_DECON_DROP} shared grams).",
)
def benchmark_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    train, hits = _decon_hits(spark, sf_dir)
    return (
        hits.groupBy("doc_id")
        .agg(
            F.countDistinct("gram").cast("long").alias("n_shared_grams"),
            F.countDistinct("bench_id").cast("long").alias("n_bench_docs"),
        )
        .join(train.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            "n_shared_grams",
            "n_bench_docs",
            (F.col("n_shared_grams") >= _DECON_DROP).alias("dropped"),
        )
    )


def _decon_hits(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(train, hits): the train split plus every (train doc, shared
    gram, benchmark item) collision against the df-capped broadcast
    benchmark shingle index — the shared stage of
    benchmark_decontaminate (the report) and training_corpus_manifest
    (the drop gate)."""
    from weather_analysis_bigdata__spark.queries_llmops import _shingles

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    bucket = (
        hex15_to_long(
            md5s(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
        )
        % 100
    )
    labeled = d.withColumn("bucket", bucket)
    train = labeled.filter(F.col("bucket") < 80).select(
        "doc_id", "source", "text"
    )
    planted = train.filter(F.col("doc_id") % _DECON_PLANT_MOD == 0).select(
        (F.col("doc_id") + 9000000).alias("bench_id"),
        F.array_join(F.slice(tokens("text"), 3, 8), " ").alias("text"),
    )
    bench = (
        labeled.filter(F.col("bucket") >= 90)
        .select(F.col("doc_id").alias("bench_id"), "text")
        .unionByName(planted)
    )
    tsh = _shingles(train.select("doc_id", "text"), _DECON_N)
    bsh = _shingles(
        bench.select(F.col("bench_id").alias("doc_id"), "text"), _DECON_N
    ).select(F.col("doc_id").alias("bench_id"), "gram")
    # df-cap the benchmark grams, then BROADCAST the whole benchmark
    # index — it is small and fixed by nature, which is the entire
    # scale story of decontamination: the train scan never shuffles.
    keep = (
        bsh.groupBy("gram")
        .agg(F.countDistinct("bench_id").alias("df"))
        .filter(F.col("df") <= _DECON_DF_CAP)
        .select("gram")
    )
    bshf = bsh.join(keep, "gram")
    hits = tsh.join(F.broadcast(bshf), "gram")
    return train, hits


# ---------------------------------------------------------------------------
# Training mix schedule: deterministic stride-interleaved data order
# ---------------------------------------------------------------------------
_MIX_UPWEIGHT = 2  # high-quality sources drawn twice as densely


@register(
    "training_mix_schedule",
    oracle=f"""
    WITH weighted AS (
      SELECT doc_id, source,
             CASE WHEN source IN ({", ".join(f"'{s}'" for s in _DSIR_TARGET)})
                  THEN {_MIX_UPWEIGHT} ELSE 1 END AS weight,
             row_number() OVER (
               PARTITION BY source ORDER BY doc_id) - 1 AS src_ordinal
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, source, src_ordinal,
             CAST((src_ordinal + 1) * {_MIX_UPWEIGHT} / weight AS BIGINT)
               AS sched_key
      FROM weighted
    )
    SELECT CAST(row_number() OVER (
             ORDER BY sched_key, source, doc_id) - 1 AS BIGINT) AS position,
           doc_id, source, CAST(src_ordinal AS BIGINT) AS src_ordinal,
           sched_key
    FROM keyed
    """,
    doc="Deterministic training-data ORDER materialization — the "
    "reproducible-training primitive: every document gets a global "
    "schedule position that interleaves sources proportionally to "
    f"their mixture weight (stride scheduling: source s's k-th doc "
    f"lands at key (k+1)·W/w_s; sources {_DSIR_TARGET} are upweighted "
    f"{_MIX_UPWEIGHT}× — the DSIR-selected exemplar sources appear "
    "twice as densely early and throughout). The per-source ordinal "
    "is a PARTITIONED window (each source ranks its own slice); the "
    "global position comes from functions/distributed.py:"
    "two_pass_ordinals — range buckets + per-bucket counts + "
    "broadcast offsets, the TeraSort recipe — so no global window "
    "ever materializes one partition. At 100 TB the output IS the "
    "epoch manifest: written partitioned by position range, a "
    "training job reads its shard by position pushdown and every "
    "rerun reads the identical order.",
)
def training_mix_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return _stride_schedule(d).select(
        "position", "doc_id", "source", "src_ordinal", "sched_key"
    )


def _stride_schedule(d: DataFrame) -> DataFrame:
    """Add (src_ordinal, sched_key, position) stride-scheduling columns
    to a (doc_id, source, ...) frame — the shared ordering stage of
    training_mix_schedule (whole corpus) and training_corpus_manifest
    (the filtered survivors)."""
    from weather_analysis_bigdata__spark.functions.distributed import (
        two_pass_ordinals,
    )

    w_src = Window.partitionBy("source").orderBy("doc_id")
    weight = (
        F.when(F.col("source").isin(*_DSIR_TARGET), _MIX_UPWEIGHT)
        .otherwise(1)
    )
    keyed = d.select(
        "*",
        (F.row_number().over(w_src) - 1).cast("long").alias("src_ordinal"),
    ).withColumn(
        "sched_key",
        ((F.col("src_ordinal") + 1) * _MIX_UPWEIGHT / weight).cast("long"),
    )
    return two_pass_ordinals(
        keyed,
        [F.col("sched_key"), F.col("source"), F.col("doc_id")],
        8,
        ordinal_col="position",
    )


# ---------------------------------------------------------------------------
# Streaming ANN serving: the query stream served from the persisted
# index, stream == batch proven by the shared oracle
# ---------------------------------------------------------------------------
@register(
    "streaming_ann_serve_replay",
    oracle=_SQL_IVF_SERVE,  # the batch serve oracle VERBATIM
    doc=f"STREAMING ANN serving — the request side of the streaming "
    "index story (maintenance: streaming_minhash_index_replay; "
    "routing: streaming_multimodal_router_replay; this closes "
    "SERVING): the {q} IVF query vectors arrive as a stream in 4 "
    "micro-batches (availableNow, one file per trigger) and "
    "foreachBatch serves each batch from the PERSISTED centroid + "
    "inverted-list indexes — probe selection, candidate join, exact "
    "re-rank, per-query top-{k} — publishing results to batch_id-keyed "
    "overwrite segments (idempotent under redelivery). The registered "
    "oracle is ivf_probe_topk's SQL VERBATIM, so the hash match "
    "proves SERVING COMMUTES WITH MICRO-BATCHING: each query's "
    "top-{k} is independent of which batch carried it, because the "
    "index is the same persisted artifact either way. That is the "
    "production contract of every online vector store: the answer "
    "must not depend on request batching.".format(
        q=_IVF_QUERIES, k=_IVF_TOPK
    ),
    prepare=_prepare_ivf,
)
def streaming_ann_serve_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    queries = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _IVF_QUERIES)
        .select("vec_id", "embedding")
    )
    cent_arr = _ivf_centroids(spark, sf_dir)
    assign = _ivf_assign(spark, sf_dir)
    sv = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", scaled_vec("embedding").alias("sva")
    )

    def serve(batch_df: DataFrame, _batch_id: int) -> DataFrame:
        q = batch_df.select(
            F.col("vec_id").alias("query_id"),
            scaled_vec("embedding").alias("q_sva"),
        )
        probe_scores = q.crossJoin(F.broadcast(cent_arr)).select(
            "query_id",
            "c_label",
            _sqdist_col(F.col("q_sva"), F.col("c_arr")).alias("dist"),
        )
        probes = grouped_topk(
            probe_scores,
            ["query_id"],
            [F.col("dist"), F.col("c_label")],
            _IVF_PROBES,
        ).select("query_id", F.col("c_label").alias("probe_label"))
        cands = (
            F.broadcast(probes)
            .join(assign, F.col("probe_label") == F.col("part_label"))
            .filter(F.col("cand_id") != F.col("query_id"))
            .select("query_id", "cand_id")
        )
        pair = (
            cands.join(sv, F.col("cand_id") == F.col("vec_id"))
            .join(F.broadcast(q), "query_id")
            .select(
                "query_id",
                "cand_id",
                _sqdist_col(F.col("q_sva"), F.col("sva")).alias("dist"),
            )
        )
        return grouped_topk(
            pair,
            ["query_id"],
            [F.col("dist"), F.col("cand_id")],
            _IVF_TOPK,
            rank_col="rn",
        ).select("query_id", "cand_id", "dist", "rn")

    return replay_segments(spark, queries, serve, "annserve").select(
        "query_id",
        F.col("cand_id").alias("neighbor_id"),
        (F.col("dist").cast("double") / 1e16).alias("sq_dist"),
        F.col("rn").cast("long").alias("rn"),
    )


# ---------------------------------------------------------------------------
# The training-data prep capstone: split → decontaminate → dedup →
# DSIR gate → mix schedule, one plan
# ---------------------------------------------------------------------------
def _manifest_oracle() -> str:
    """Generator oracle: the DSIR LLR literals (same independent DuckDB
    counts + shared quantizer as importance_resample_dsir) spliced into
    the full five-stage closed form."""
    import duckdb

    from weather_analysis_bigdata__spark.functions.textops import (
        SQL_NORMALIZED,
    )
    from weather_analysis_bigdata__spark.queries_llmops import _bpe_oracle_sf

    sf = _bpe_oracle_sf()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    rows = con.execute(
        f"""
        WITH {_dsir_feat_sql()}
        SELECT bucket, SUM(is_target) AS t_cnt, COUNT(*) AS r_cnt
        FROM bf GROUP BY bucket
        """
    ).fetchall()
    con.close()
    llr, const = _dsir_llr({int(b): (int(t), int(r)) for b, t, r in rows})
    values = ", ".join(f"({b}, {llr[b]})" for b in range(_DSIR_BUCKETS))
    norm = SQL_NORMALIZED.format(c="text")
    return f"""
    WITH llr(bucket, llr_int) AS (VALUES {values}),
    {_sql_decon_base()},
    contaminated AS (
      SELECT t.doc_id FROM tsh t JOIN bshf b ON b.gram = t.gram
      GROUP BY t.doc_id
      HAVING COUNT(DISTINCT t.gram) >= {_DECON_DROP}
    ),
    s2 AS (
      SELECT tr.doc_id, tr.source, tr.text FROM train tr
      WHERE tr.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    fp AS (
      SELECT doc_id, source, md5({norm}) AS fingerprint FROM s2
    ),
    s3 AS (
      SELECT f.doc_id, f.source FROM fp f
      JOIN (SELECT fingerprint, MIN(doc_id) AS keep_id
            FROM fp GROUP BY fingerprint) k
        ON k.keep_id = f.doc_id
    ),
    {_dsir_feat_sql()},
    pdb AS (
      SELECT doc_id, bucket, COUNT(*) AS c FROM bf GROUP BY doc_id, bucket
    ),
    scored AS (
      SELECT p.doc_id,
             CAST(SUM(p.c * l.llr_int) + SUM(p.c) * {const} AS BIGINT)
               AS score_int
      FROM pdb p JOIN llr l ON l.bucket = p.bucket
      GROUP BY p.doc_id
    ),
    s4 AS (
      SELECT s3.doc_id, s3.source, sc.score_int
      FROM s3 JOIN scored sc ON sc.doc_id = s3.doc_id
      WHERE sc.score_int > 0
    ),
    weighted AS (
      SELECT doc_id, source, score_int,
             CASE WHEN source IN ({", ".join(f"'{s}'" for s in _DSIR_TARGET)})
                  THEN {_MIX_UPWEIGHT} ELSE 1 END AS weight,
             row_number() OVER (
               PARTITION BY source ORDER BY doc_id) - 1 AS src_ordinal
      FROM s4
    ),
    keyed AS (
      SELECT doc_id, source, score_int, src_ordinal,
             CAST((src_ordinal + 1) * {_MIX_UPWEIGHT} / weight AS BIGINT)
               AS sched_key
      FROM weighted
    )
    SELECT CAST(row_number() OVER (
             ORDER BY sched_key, source, doc_id) - 1 AS BIGINT) AS position,
           doc_id, source, CAST(src_ordinal AS BIGINT) AS src_ordinal,
           sched_key, score_int
    FROM keyed
    """


@register(
    "training_corpus_manifest",
    oracle=_manifest_oracle,
    prepare=_prepare_dsir,
    doc="THE TRAINING-DATA PREP CAPSTONE — the full pipeline a "
    "pretraining run actually executes, composed in ONE plan over the "
    "stages this repo ships separately: (1) deterministic train split "
    "(train_val_test_split's md5 residue); (2) benchmark "
    "DECONTAMINATION — train docs sharing >= 3 df-capped 6-grams with "
    "the eval set (incl. the planted leaks) dropped, benchmark index "
    "broadcast (benchmark_decontaminate); (3) exact DEDUP — keep the "
    "min doc_id per normalized md5 fingerprint among survivors "
    "(dedup_fingerprint_normalized's keep-side); (4) DSIR QUALITY "
    "GATE — keep docs whose integer importance score is positive, "
    "i.e. target-distribution-leaning (importance_resample_dsir's "
    "scorer; the LLR estimator still trains on the FULL corpus); "
    "(5) the stride MIX SCHEDULE over what remains "
    "(training_mix_schedule) — the output IS the epoch manifest: "
    "(position, doc, source, ordinal, key, score). Every stage is the "
    "already-audited kernel, so the composition inherits their scale "
    "shapes: one broadcast contamination join, one fingerprint "
    "shuffle, two linear DSIR passes, the TeraSort ordinal recipe. "
    "At 100 TB this plan IS the data-prep job; a hash match here "
    "proves the whole pipeline end-to-end on both engines.",
)
def training_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_analysis_bigdata__spark.functions.textops import (
        normalized_text,
    )

    # Stage 1+2: train split minus contaminated docs (the report's
    # drop set), via a broadcastable anti-join on the tiny flag table.
    train, hits = _decon_hits(spark, sf_dir)
    contaminated = (
        hits.groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared"))
        .filter(F.col("n_shared") >= _DECON_DROP)
        .select("doc_id")
    )
    s2 = train.join(F.broadcast(contaminated), "doc_id", "left_anti")
    # Stage 3: exact-dedup keep side among survivors.
    fp = s2.select(
        "doc_id", "source", md5s(normalized_text("text")).alias("fingerprint")
    )
    keepers = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("keep_id"))
    s3 = fp.join(
        keepers, F.col("doc_id") == F.col("keep_id"), "left_semi"
    ).select("doc_id", "source")
    # Stage 4: DSIR gate (scorer trains on the full corpus).
    scored = _dsir_scored(spark, sf_dir).select("doc_id", "score_int")
    # two_pass_ordinals evaluates its input three times (boundary
    # sketch, bucket counts, final join) — PIN the survivor set so
    # the whole decontaminate→dedup→score pipeline runs ONCE, not 3×.
    # At 100 TB the survivors are (id, source, score) rows: tiny
    # relative to the corpus, and exactly what a real prep job
    # checkpoints before the global sort. Round 12: the old
    # persist_once only cached at execution — the PLAN still carried
    # the full pipeline 3× (plan survey: 70 parquet scans / 164
    # exchanges, and the optimizer re-plans that tree per reference);
    # the eager pin truncates it.
    from weather_analysis_bigdata__spark.session import pin

    s4 = s3.join(scored, "doc_id").filter(
        F.col("score_int") > 0
    ).transform(pin)
    # Stage 5: the stride schedule over the survivors.
    return _stride_schedule(s4).select(
        "position", "doc_id", "source", "src_ordinal", "sched_key",
        "score_int",
    )


# ---------------------------------------------------------------------------
# Perplexity quality filter: hashed-bigram LM (CCNet, Wenzek et al. 2020)
# ---------------------------------------------------------------------------
_PLM_BUCKETS = 256
_PLM_SALT = "plm:"
#: Keep documents at or below this average NLL (micro-nats per bigram)
#: under the target-trained LM — set at the dev corpus's median, so
#: both branches of the filter are exercised (CCNet keeps the
#: low-perplexity "head"/"middle" of the distribution).
_PLM_KEEP_NLL = 5_420_000


def _plm_lp(counts: dict[int, int]) -> dict[int, int]:
    """Quantized add-one-smoothed log-probabilities from exact bucket
    counts — shared by the Spark build and the oracle generator (the
    _dsir_llr pattern: the single non-integer op runs once, in CPython,
    identically on both paths)."""
    total = sum(counts.values())
    return {
        b: math.floor(
            _DSIR_SCALE
            * (
                math.log(counts.get(b, 0) + 1)
                - math.log(total + _PLM_BUCKETS)
            )
        )
        for b in range(_PLM_BUCKETS)
    }


def _plm_features_df(d: DataFrame) -> DataFrame:
    """(doc_id, source, bucket) for an arbitrary documents-shaped
    DataFrame: one row per hashed bigram occurrence — the df-level
    kernel shared with the quality-ensemble fusion and its streaming
    replay (queries_quality.py)."""
    return d.select(
        "doc_id",
        "source",
        F.explode(word_ngrams(tokens("text"), 2)).alias("g"),
    ).select(
        "doc_id",
        "source",
        (
            hex15_to_long(md5s(F.concat(F.lit(_PLM_SALT), F.col("g"))))
            % _PLM_BUCKETS
        ).alias("bucket"),
    )


def _plm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, bucket): one row per hashed bigram occurrence."""
    return _plm_features_df(load_table(spark, sf_dir, "documents"))


def plm_doc_scores(d: DataFrame, lpt: DataFrame) -> DataFrame:
    """Per-document LM scores (doc_id, source, n_bigrams,
    nll_micro_avg, kept) for an arbitrary documents-shaped DataFrame
    against a (bucket, lp_int) LM table — doc-local features plus a
    broadcast join against the STATIC index, so it commutes with
    micro-batching (the property streaming_quality_gate_replay pins)."""
    scored = (
        _plm_features_df(d)
        .join(F.broadcast(lpt), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            (-F.sum("lp_int")).alias("nll"),
        )
    )
    s, n = F.col("nll"), F.col("n_bigrams")
    avg = ((s - (((s % n) + n) % n)) / n).cast("long")
    return scored.select(
        "doc_id",
        "source",
        "n_bigrams",
        avg.alias("nll_micro_avg"),
        (avg <= _PLM_KEEP_NLL).alias("kept"),
    )


def _plm_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED hashed-bigram LM (bucket, lp_int): add-one-smoothed
    log-probs trained on the TARGET sources' bigrams, quantized on the
    driver from exact distributed counts (bounded 256-row collect) and
    published once per corpus (operators/index_store.py)."""
    from weather_analysis_bigdata__spark.operators.index_store import (
        persisted_index,
    )

    def build() -> DataFrame:
        rows = (
            _plm_features(spark, sf_dir)
            .filter(F.col("source").isin(*_DSIR_TARGET))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .collect()
        )
        lp = _plm_lp({int(r["bucket"]): int(r["c"]) for r in rows})
        return spark.createDataFrame(
            [(b, lp[b]) for b in range(_PLM_BUCKETS)],
            "bucket BIGINT, lp_int BIGINT",
        )

    return persisted_index(spark, sf_dir, "plm_bigram256", build)


def _prepare_plm(spark: SparkSession, sf_dir: str) -> None:
    _plm_table(spark, sf_dir)


def _plm_feat_sql() -> str:
    """CTE chain (tok → bg → bf): every bigram occurrence hashed to its
    LM bucket, with the source carried for the training filter."""
    return f"""tok AS (
      SELECT doc_id, source, {SQL_TOKENS.format(c='text')} AS toks
      FROM documents
    ),
    bg AS (
      SELECT doc_id, source, t.g AS g
      FROM tok, unnest({sql_word_ngrams('toks', 2)}) AS t(g)
    ),
    bf AS (
      SELECT doc_id, source,
             {sql_hex15_to_long(f"md5('{_PLM_SALT}' || g)")}
               % {_PLM_BUCKETS} AS bucket
      FROM bg
    )"""


def _plm_oracle() -> str:
    """Generator oracle: independent DuckDB bucket counts over the
    target sources + the shared quantizer, emitted as literals."""
    import duckdb

    from weather_analysis_bigdata__spark.queries_llmops import _bpe_oracle_sf

    sf = _bpe_oracle_sf()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    in_list = ", ".join(f"'{s}'" for s in _DSIR_TARGET)
    rows = con.execute(
        f"""
        WITH {_plm_feat_sql()}
        SELECT bucket, COUNT(*) AS c FROM bf
        WHERE source IN ({in_list}) GROUP BY bucket
        """
    ).fetchall()
    con.close()
    lp = _plm_lp({int(b): int(c) for b, c in rows})
    values = ", ".join(f"({b}, {lp[b]})" for b in range(_PLM_BUCKETS))
    avg = _SQL_FLOORDIV.format(s="-SUM(l.lp_int)", n="COUNT(*)")
    return f"""
    WITH lpt(bucket, lp_int) AS (VALUES {values}),
    {_plm_feat_sql()}
    SELECT doc_id, source,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST({avg} AS BIGINT) AS nll_micro_avg,
           {avg} <= {_PLM_KEEP_NLL} AS kept
    FROM bf JOIN lpt l ON l.bucket = bf.bucket
    GROUP BY doc_id, source
    """


@register(
    "perplexity_filter_bigram",
    oracle=_plm_oracle,
    doc="Perplexity quality filter (CCNet, Wenzek et al. 2020 — THE "
    "classic LM-based corpus filter): a hashed-bigram language model "
    f"({_PLM_BUCKETS} buckets, add-one smoothing) trains on the "
    f"TARGET sources {_DSIR_TARGET} and every document is scored by "
    "its average negative log-likelihood per bigram — low perplexity "
    "under the exemplar LM = in-domain, fluent text; documents at or "
    f"below {_PLM_KEEP_NLL} micro-nats/bigram (the dev corpus median, "
    "so both branches execute) are kept. The LM is a PERSISTED "
    f"{_PLM_BUCKETS}-row index (driver-quantized from exact counts — "
    "the _dsir_llr pattern), so scoring is one linear pass: explode "
    "bigrams, broadcast-join the LM, one per-doc aggregate with an "
    "exact remainder-adjusted floor division. Target-trained scores "
    "measurably separate the sources (5.35M vs 5.43M avg micro-nats "
    "at sf0.01). Complements the heuristic filters (Gopher/C4, "
    "repetition) with the model-based rung; DSIR is the "
    "importance-RATIO sibling (target/raw), this is pure target NLL.",
    prepare=_prepare_plm,
)
def perplexity_filter_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return plm_doc_scores(
        load_table(spark, sf_dir, "documents"), _plm_table(spark, sf_dir)
    )


def _plm_tertile_oracle() -> str:
    """The ntile(3) closed form over the same literal-LM scores."""
    import duckdb

    from weather_analysis_bigdata__spark.queries_llmops import _bpe_oracle_sf

    sf = _bpe_oracle_sf()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    in_list = ", ".join(f"'{s}'" for s in _DSIR_TARGET)
    rows = con.execute(
        f"""
        WITH {_plm_feat_sql()}
        SELECT bucket, COUNT(*) AS c FROM bf
        WHERE source IN ({in_list}) GROUP BY bucket
        """
    ).fetchall()
    con.close()
    lp = _plm_lp({int(b): int(c) for b, c in rows})
    values = ", ".join(f"({b}, {lp[b]})" for b in range(_PLM_BUCKETS))
    avg = _SQL_FLOORDIV.format(s="-SUM(l.lp_int)", n="COUNT(*)")
    return f"""
    WITH lpt(bucket, lp_int) AS (VALUES {values}),
    {_plm_feat_sql()},
    scored AS (
      SELECT doc_id, source, CAST({avg} AS BIGINT) AS nll_micro_avg
      FROM bf JOIN lpt l ON l.bucket = bf.bucket
      GROUP BY doc_id, source
    )
    SELECT doc_id, source, nll_micro_avg,
           CASE ntile(3) OVER (ORDER BY nll_micro_avg ASC, doc_id ASC)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS tertile
    FROM scored
    """



@register(
    "perplexity_tertile_split",
    oracle=_plm_tertile_oracle,
    doc="CCNet's head/middle/tail corpus split — the published "
    "deployment of the perplexity filter: documents sorted by their "
    "bigram-LM average NLL are cut into three equal-population "
    "tertiles ('head' = lowest perplexity / most in-domain, 'tail' = "
    "highest; CCNet trains on head+middle and drops or down-weights "
    "tail). Scoring reads the PERSISTED hashed-bigram LM "
    "(perplexity_filter_bigram); the global equal-population cut uses "
    "the SCALE-SAFE two-pass recipe (two_pass_ordinals + the "
    "closed-form ntile bucket, the equi_depth_bins_twopass shape) — "
    "no global window, the only global object is the O(parts) offset "
    "array. The oracle expresses the same cut as a plain ntile(3), so "
    "the hash match re-proves the distributed form computes the "
    "SQL-standard split. Fully tie-broken on (nll, doc_id).",
    prepare=_prepare_plm,
)
def perplexity_tertile_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_analysis_bigdata__spark.functions.distributed import (
        ntile_from_ordinal,
        two_pass_ordinals,
    )

    lpt = _plm_table(spark, sf_dir)
    s, n = F.col("nll"), F.col("n_bigrams")
    avg = ((s - (((s % n) + n) % n)) / n).cast("long")
    scored = (
        _plm_features(spark, sf_dir)
        .join(F.broadcast(lpt), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            (-F.sum("lp_int")).alias("nll"),
        )
        .select("doc_id", "source", avg.alias("nll_micro_avg"))
    )
    ranked = two_pass_ordinals(
        scored, [F.col("nll_micro_avg"), F.col("doc_id")], 8, total_col="_N"
    )
    tert = ntile_from_ordinal(F.col("ordinal"), F.col("_N"), 3)
    name = (
        F.when(tert == 1, "head")
        .when(tert == 2, "middle")
        .otherwise("tail")
    )
    return ranked.select(
        "doc_id", "source", "nll_micro_avg", name.alias("tertile")
    )
