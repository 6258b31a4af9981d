"""Round-8 batch: pricing audits and composition capstones on top of
the round-7 families.

- **Span-cap loss audit** (`dedup_span_cap_audit`): the maximal-span
  dedup family (queries_round7.py) drops any 8-gram with more than
  ``_SPAN_OCC_CAP`` = 16 corpus occurrences from pairing — the skew
  guard that bounds the dotplot at N·cap points. But text repeated
  hundreds of times (license headers, nav boilerplate) is exactly the
  most-duplicated content in a web crawl, and it silently escapes all
  three span rungs. This audit prices that loss the way
  ``dedup_paragraph_bloom_audit`` prices Bloom false drops and
  ``dedup_semantic_cap_audit`` prices the SemDeDup cluster cap: run the
  SAME kernel at the production cap and at a higher-cap yardstick, and
  report the span tokens only the yardstick sees, in ppm. Because the
  synthetic corpus has no organic gram above 4 occurrences (measured at
  sf0.01/sf0.1), the audit PLANTS a 24-copy boilerplate block — 24 > 16
  so the production rung is blind to it by construction, and the
  planted row's missed_span_tokens > 0 is the positive control proving
  the audit detects cap loss (a zero there means the audit itself is
  broken, the failing-gate role no_missed_duplicates plays for Bloom).

Reference parity note: the reference (Weather_API.py) has no substring
dedup at all — charter-extension breadth on the `documents` table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from weather_analysis_bigdata__spark.functions.textops import (
    SQL_TOKENS,
    tokens,
)
from weather_analysis_bigdata__spark.functions.vectorops import (
    dot,
    norm,
    scaled_vec,
)
from weather_analysis_bigdata__spark.queries_round7 import (
    _SPAN_MIN_TOKENS,
    _SPAN_N,
    _SPAN_OCC_CAP,
    _SQL_GRAM_CAT,
    _span_iv_union,
    _span_pairs_from,
    _span_postings,
)
from weather_analysis_bigdata__spark.registry import register
from weather_analysis_bigdata__spark.sources.files import (
    load_table,
    spread_small_scan,
)
from weather_analysis_bigdata__spark.streaming.replay import replay_segments

# ---------------------------------------------------------------------------
# Span-cap loss audit
# ---------------------------------------------------------------------------
#: Audit yardstick cap. NOT production config: a gram kept here pairs
#: up to cap_hi² dots, so the yardstick runs at test SFs only (the
#: dedup_semantic_clustered role). Chosen above the planted copy count
#: (24) and well above the organic maximum (4 at sf0.1) so the
#: yardstick itself is exhaustive on this corpus — the residual it
#: CANNOT see is reported as overcap_occurrences, which must be 0 here.
_CAP_AUDIT_HI = 64
#: Planted boilerplate: 24 copies (> the production cap of 16, ≤ the
#: yardstick) of a 32-token block (≥ _SPAN_MIN_TOKENS = 20), each
#: wrapped in per-copy unique pre/suf tokens so detection is genuinely
#: span-granular (the wrapper grams are singletons, excluded by the
#: occ ≥ 2 rule on both sides).
_PLANT_COPIES = 24
_PLANT_BOILER_TOKENS = 32
_PLANT_BOILER = " ".join(f"capaudit{j:02d}" for j in range(_PLANT_BOILER_TOKENS))


def _cap_audit_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ the planted boilerplate block (negative doc_ids)."""
    organic = spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # Built from range(), not createDataFrame: an Arrow LocalRelation
    # reports unknown sizeInBytes, which poisons the union's stats and
    # flips every downstream gram join from broadcast to sort-merge.
    idx = F.lpad(F.col("id").cast("string"), 2, "0")
    planted = spark.range(_PLANT_COPIES).select(
        (F.lit(-1000001) - F.col("id")).cast("long").alias("doc_id"),
        F.concat(
            F.lit("plantpre"),
            idx,
            F.lit(f" {_PLANT_BOILER} plantsuf"),
            idx,
        ).alias("text"),
    )
    return organic.unionByName(planted)


_SQL_PLANTED = f"""planted AS (
      SELECT CAST(-1000001 - i AS BIGINT) AS doc_id,
             'plantpre' || lpad(CAST(i AS VARCHAR), 2, '0') || ' ' ||
             '{_PLANT_BOILER}' ||
             ' plantsuf' || lpad(CAST(i AS VARCHAR), 2, '0') AS text
      FROM unnest(generate_series(0, {_PLANT_COPIES - 1})) AS g(i)
    ),
    alldocs AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id, text FROM planted
    ),
    t AS (
      SELECT doc_id, {SQL_TOKENS.format(c='text')} AS toks FROM alldocs
    ),
    p AS (
      SELECT doc_id, i AS pos, {_SQL_GRAM_CAT} AS gram
      FROM t, unnest(generate_series(1, len(toks) - {_SPAN_N - 1})) AS u(i)
    ),
    occ AS (SELECT gram, COUNT(*) AS c FROM p GROUP BY gram)"""


def _sql_cap_level(cap: int, sfx: str) -> str:
    """One span-kernel CTE chain (postings→pairs→spans→per-doc interval
    union) at occurrence cap ``cap``, CTE names suffixed — the exact
    algebra of queries_round7's _SQL_SPAN_BASE + _SQL_SPAN_IV_CTES."""
    return f"""pc{sfx} AS (
      SELECT p.* FROM p JOIN occ USING (gram)
      WHERE occ.c BETWEEN 2 AND {cap}
    ),
    pairs{sfx} AS (
      SELECT a.doc_id AS da, a.pos AS pa, b.doc_id AS db,
             b.pos - a.pos AS diag
      FROM pc{sfx} a JOIN pc{sfx} b USING (gram) WHERE a.doc_id < b.doc_id
    ),
    isl{sfx} AS (
      SELECT da, db, diag, pa,
             pa - row_number() OVER (
               PARTITION BY da, db, diag ORDER BY pa) AS isl
      FROM pairs{sfx}
    ),
    spans{sfx} AS (
      SELECT da, db, diag, MIN(pa) AS a_start,
             CAST(MAX(pa) - MIN(pa) + {_SPAN_N} AS BIGINT) AS span_tokens
      FROM isl{sfx} GROUP BY da, db, diag, isl
      HAVING MAX(pa) - MIN(pa) + {_SPAN_N} >= {_SPAN_MIN_TOKENS}
    ),
    iv{sfx} AS (
      SELECT DISTINCT doc_id, s, e FROM (
        SELECT da AS doc_id, a_start AS s,
               a_start + span_tokens - 1 AS e FROM spans{sfx}
        UNION ALL
        SELECT db AS doc_id, a_start + diag AS s,
               a_start + diag + span_tokens - 1 AS e FROM spans{sfx}
      )
    ),
    flagged{sfx} AS (
      SELECT doc_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1) THEN 1 ELSE 0 END AS opens
      FROM iv{sfx}
    ),
    grouped{sfx} AS (
      SELECT doc_id, s, e,
             SUM(opens) OVER (
               PARTITION BY doc_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM flagged{sfx}
    ),
    merged{sfx} AS (
      SELECT doc_id, grp, MIN(s) AS ms, MAX(e) AS me
      FROM grouped{sfx} GROUP BY doc_id, grp
    ),
    per_doc{sfx} AS (
      SELECT doc_id, CAST(SUM(me - ms + 1) AS BIGINT) AS dup_tokens
      FROM merged{sfx} GROUP BY doc_id
    )"""


@register(
    "dedup_span_cap_audit",
    oracle=f"""
    WITH {_SQL_PLANTED},
    {_sql_cap_level(_SPAN_OCC_CAP, '16')},
    {_sql_cap_level(_CAP_AUDIT_HI, 'hi')},
    spine AS (
      SELECT doc_id, doc_id < 0 AS is_planted,
             CAST(len(toks) AS BIGINT) AS total_tokens
      FROM t
    ),
    perdoc AS (
      SELECT s.is_planted, s.total_tokens,
             COALESCE(c.dup_tokens, 0) AS dt_cap,
             COALESCE(h.dup_tokens, 0) AS dt_hi
      FROM spine s
      LEFT JOIN per_doc16 c USING (doc_id)
      LEFT JOIN per_dochi h USING (doc_id)
    ),
    oc AS (
      SELECT p.doc_id < 0 AS is_planted,
             CAST(COUNT(*) AS BIGINT) AS overcap_occurrences
      FROM p JOIN occ USING (gram)
      WHERE occ.c > {_CAP_AUDIT_HI}
      GROUP BY p.doc_id < 0
    ),
    agg AS (
      SELECT is_planted,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(total_tokens) AS BIGINT) AS total_tokens,
             CAST(SUM(dt_cap) AS BIGINT) AS dup_tokens_capped,
             CAST(SUM(dt_hi) AS BIGINT) AS dup_tokens_yardstick,
             CAST(SUM(dt_hi - dt_cap) AS BIGINT) AS missed_span_tokens,
             CAST(COUNT(*) FILTER (dt_hi > dt_cap) AS BIGINT)
               AS n_docs_missed
      FROM perdoc GROUP BY is_planted
    )
    SELECT a.is_planted, a.n_docs, a.total_tokens, a.dup_tokens_capped,
           a.dup_tokens_yardstick, a.missed_span_tokens, a.n_docs_missed,
           CAST((1000000 * a.missed_span_tokens)
                // NULLIF(a.total_tokens, 0) AS BIGINT) AS missed_ppm,
           CAST(COALESCE(o.overcap_occurrences, 0) AS BIGINT)
             AS overcap_occurrences
    FROM agg a LEFT JOIN oc o ON a.is_planted = o.is_planted
    """,
    doc="SPAN-CAP loss audit — prices what the maximal-span family's "
    f"{_SPAN_OCC_CAP}-occurrence gram cap misses, exactly as "
    "dedup_paragraph_bloom_audit prices Bloom false drops and "
    "dedup_semantic_cap_audit prices the SemDeDup cluster cap: the "
    "SAME dotplot kernel (_span_pairs_from, cap parameterized) runs at "
    f"the production cap and at a {_CAP_AUDIT_HI}-cap yardstick over "
    "documents ∪ a planted 24-copy 32-token boilerplate block, and the "
    "per-doc interval-union token counts diff into missed_span_tokens "
    "(+ ppm) per is_planted group. The planted row is the positive "
    "control: 24 copies > cap means the production rung is blind to it "
    "BY CONSTRUCTION, so missed_span_tokens must be 24×32 = 768 there "
    "(pytest-gated) — license-header-class boilerplate escaping the "
    "cap is exactly what a web crawl serves. overcap_occurrences "
    "reports the residual the yardstick itself cannot see (grams above "
    f"{_CAP_AUDIT_HI} occurrences; 0 on this corpus) — the "
    "scale-honesty line a 100 TB run reads before trusting the ppm. "
    "Cost: the audit runs the kernel at both caps by definition (the "
    "lsh_recall_audit pattern) and the yardstick's dotplot is "
    "N·cap_hi-bounded — an audit-tier query, not the production path.",
)
def dedup_span_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_analysis_bigdata__spark.session import pin

    docs = _cap_audit_corpus(spark, sf_dir)
    # ONE postings pass and ONE occurrence count, pinned and shared by
    # both cap levels AND the overcap probe — the pre-round-12 plan
    # re-ran the corpus tokenize+posexplode+md5 ~8× (22 parquet scans /
    # 24 Generates captured in plans/r12/..._before.txt, zero reuse).
    p = _span_postings(docs).transform(pin)
    occ = p.groupBy("gh").agg(F.count(F.lit(1)).alias("occ")).transform(pin)
    dt_cap = _span_iv_union(
        _span_pairs_from(docs, _SPAN_OCC_CAP, postings=p, occ=occ)
    ).select("doc_id", F.col("dup_tokens").alias("dt_cap"))
    dt_hi = _span_iv_union(
        _span_pairs_from(docs, _CAP_AUDIT_HI, postings=p, occ=occ)
    ).select("doc_id", F.col("dup_tokens").alias("dt_hi"))
    spine = docs.select(
        "doc_id",
        (F.col("doc_id") < 0).alias("is_planted"),
        F.size(tokens("text")).cast("long").alias("total_tokens"),
    )
    perdoc = (
        spine.join(dt_cap.hint("shuffle_hash"), "doc_id", "left")
        .join(dt_hi.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "is_planted",
            "total_tokens",
            F.coalesce("dt_cap", F.lit(0)).alias("dt_cap"),
            F.coalesce("dt_hi", F.lit(0)).alias("dt_hi"),
        )
    )
    hot = occ.filter(F.col("occ") > _CAP_AUDIT_HI)
    oc = (
        p.join(hot.select("gh"), "gh")
        .groupBy((F.col("doc_id") < 0).alias("is_planted"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("overcap_occurrences")
        )
    )
    agg = perdoc.groupBy("is_planted").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("total_tokens").cast("long").alias("total_tokens"),
        F.sum("dt_cap").cast("long").alias("dup_tokens_capped"),
        F.sum("dt_hi").cast("long").alias("dup_tokens_yardstick"),
        F.sum(F.col("dt_hi") - F.col("dt_cap"))
        .cast("long")
        .alias("missed_span_tokens"),
        F.sum(F.when(F.col("dt_hi") > F.col("dt_cap"), 1).otherwise(0))
        .cast("long")
        .alias("n_docs_missed"),
    )
    return agg.join(oc.hint("shuffle_hash"), "is_planted", "left").select(
        "is_planted",
        "n_docs",
        "total_tokens",
        "dup_tokens_capped",
        "dup_tokens_yardstick",
        "missed_span_tokens",
        "n_docs_missed",
        F.expr(
            "(1000000 * missed_span_tokens) div nullif(total_tokens, 0)"
        ).alias("missed_ppm"),
        F.coalesce("overcap_occurrences", F.lit(0))
        .cast("long")
        .alias("overcap_occurrences"),
    )


# ---------------------------------------------------------------------------
# Semantic benchmark decontamination (the paraphrase rung)
# ---------------------------------------------------------------------------
#: Cosine threshold for a semantic contamination flag. Paraphrase-grade
#: similarity: the organic eval↔train cosine maximum on this corpus is
#: ~0.50 (measured at sf0.01/sf0.1), the planted perturbed vectors sit
#: at ~0.99 — τ = 0.8 separates "reworded benchmark item" from
#: topical-similarity noise the way the 8-gram rung separates verbatim
#: overlap from shared phrases.
_DECON_TAU = 0.8
#: Nearest centroid lists probed per eval query (the candidate bound).
_DECON_PROBES = 2
#: Planted paraphrase sources: train vectors with vec_id % 250 == 1
#: become synthetic eval queries (2 at sf0.01, 8 at sf0.1).
_DECON_PLANT_MOD = 250
#: The perturbation: q = floor((7·v + rotate(v, 1)) / 8) in SCALED-
#: INTEGER space — a deterministic "paraphrase" whose cosine with its
#: source is ≈ 7/√50 ≈ 0.99 (rotation of a near-isotropic vector is
#: ~orthogonal to it). Integer mix keeps every engine bit-exact: no
#: float arithmetic enters until the one dot→double boundary cast.
_DECON_MIX_NUM = 7
_DECON_MIX_DEN = 8


def _prepare_ivf_decon(spark: SparkSession, sf_dir: str) -> None:
    """Bench prepare hook: the persisted IVF centroid + assignment
    indexes this gate probes (fn self-prepares regardless)."""
    from weather_analysis_bigdata__spark.queries_llmops import _prepare_ivf

    _prepare_ivf(spark, sf_dir)


def _decon_sql_idot(a: str, b: str) -> str:
    """DuckDB: exact dot of two already-scaled BIGINT[] vectors →
    DOUBLE (the sql_dot contract minus the quantization step)."""
    return (
        f"(CAST(CAST(list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> {a}[i] * {b}[i])) AS BIGINT) AS DOUBLE) / 1e16)"
    )


def _decon_sql_hits_ctes() -> str:
    """The probe-kernel CTE chain (vpos … hits) without a leading WITH
    — shared by the two-rung report's oracle and the τ-sweep's."""
    from weather_analysis_bigdata__spark.queries_llmops import (
        _SQL_FLOORDIV,
        _SQL_SVA,
        _SQL_VPOS,
        _sql_sqdist,
    )

    mix = _SQL_FLOORDIV.format(
        s=f"{_DECON_MIX_NUM} * sva[i] + (sva[2:] || sva[1:1])[i]",
        n=str(_DECON_MIX_DEN),
    )
    idot = _decon_sql_idot
    return f"""{_SQL_VPOS.strip()},
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
    ascored AS (
      SELECT s.vec_id, c.c_label,
             {_sql_sqdist('s.sva', 'c.c_arr')} AS dist
      FROM sv s CROSS JOIN cent_arr c
    ),
    assign AS (
      SELECT vec_id AS cand_id, c_label AS part_label FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY vec_id ORDER BY dist, c_label) AS rn
        FROM ascored) WHERE rn = 1
    ),
    planted AS (
      SELECT CAST(-1 - vec_id AS BIGINT) AS query_id,
             list_transform(generate_series(1, len(sva)),
               i -> CAST({mix} AS BIGINT)) AS qsva
      FROM sv
      WHERE vec_id % 97 <> 0 AND vec_id % {_DECON_PLANT_MOD} = 1
    ),
    qset AS (
      SELECT vec_id AS query_id, sva AS qsva FROM sv WHERE vec_id % 97 = 0
      UNION ALL SELECT query_id, qsva FROM planted
    ),
    qscored AS (
      SELECT q.query_id, q.qsva, c.c_label,
             {_sql_sqdist('q.qsva', 'c.c_arr')} AS dist
      FROM qset q CROSS JOIN cent_arr c
    ),
    qprobes AS (
      SELECT query_id, c_label AS probe_label FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY dist, c_label) AS rn
        FROM qscored) WHERE rn <= {_DECON_PROBES}
    ),
    cands AS (
      SELECT p.query_id, a.cand_id
      FROM qprobes p JOIN assign a ON p.probe_label = a.part_label
      WHERE a.cand_id % 97 <> 0
    ),
    qn AS (
      SELECT query_id, qsva,
             sqrt({idot('qsva', 'qsva')}) AS qnrm
      FROM qset
    ),
    cn AS (
      SELECT vec_id, sva, sqrt({idot('sva', 'sva')}) AS cnrm
      FROM sv WHERE vec_id % 97 <> 0
    ),
    hits AS (
      SELECT c.cand_id,
             {idot('q.qsva', 'x.sva')} / (q.qnrm * x.cnrm) AS cosine
      FROM cands c
      JOIN qn q USING (query_id)
      JOIN cn x ON x.vec_id = c.cand_id
    )"""


def _decon_oracle() -> str:
    from weather_analysis_bigdata__spark.registry import all_queries

    ng_sql = all_queries()["decontaminate_train_test"].oracle_text()
    return f"""
    WITH ng AS ({ng_sql}),
    {_decon_sql_hits_ctes()},
    sem AS (
      SELECT cand_id AS doc_id,
             CAST(COUNT(*) FILTER (cosine >= {_DECON_TAU}) AS BIGINT)
               AS n_semantic_hits,
             MAX(cosine) AS max_cosine
      FROM hits GROUP BY cand_id
    )
    SELECT n.doc_id,
           n.is_contaminated AS ngram_contaminated,
           CAST(n.n_contaminated AS BIGINT) AS ngram_hits,
           (e.vec_id IS NOT NULL) AS has_embedding,
           CAST(COALESCE(s.n_semantic_hits, 0) AS BIGINT)
             AS n_semantic_hits,
           s.max_cosine,
           COALESCE(s.n_semantic_hits, 0) > 0 AS semantic_contaminated,
           CASE
             WHEN n.is_contaminated
                  AND COALESCE(s.n_semantic_hits, 0) > 0 THEN 'both'
             WHEN n.is_contaminated THEN 'ngram'
             WHEN COALESCE(s.n_semantic_hits, 0) > 0 THEN 'semantic'
             ELSE 'clean'
           END AS contamination_rung
    FROM ng n
    LEFT JOIN (SELECT vec_id FROM embeddings) e ON e.vec_id = n.doc_id
    LEFT JOIN sem s ON s.doc_id = n.doc_id
    """


@register(
    "decontaminate_semantic",
    oracle=_decon_oracle,
    doc="SEMANTIC benchmark decontamination — the paraphrase rung "
    "decontaminate_train_test's verbatim 8-gram scan misses (reworded "
    "or re-formatted benchmark items survive n-gram matching; this is "
    "the leak class that actually reaches modern corpora). Eval-set "
    f"embeddings (vec_id % 97, the n-gram rung's split) probe the "
    f"PERSISTED IVF index ({_DECON_PROBES} nearest centroid lists per "
    "query — candidates bounded by probed lists, the ann_batch_* "
    f"serving shape), and train candidates with cosine ≥ {_DECON_TAU} "
    "are flagged; composed with the n-gram gate into ONE per-train-doc "
    "report (rung = ngram | semantic | both | clean; the n-gram "
    "oracle is embedded VERBATIM as a CTE, so the two rungs can never "
    "drift). Positive control: train vectors with vec_id % "
    f"{_DECON_PLANT_MOD} = 1 spawn planted eval queries perturbed in "
    "scaled-integer space (q = (7v + rotate(v))/8, cosine ≈ 0.99 to "
    "the source, ~0.5 organic maximum) — each planted source MUST "
    "come back semantic-flagged (pytest-gated), proving the rung "
    "catches paraphrases no n-gram can. Exact integer dot products "
    "end-to-end (vectorops contract); at 100 TB the eval side is tiny "
    "(benchmarks are KBs, corpora are TBs), so the probe/cosine side "
    "broadcasts and the train corpus never shuffles for this gate.",
    prepare=_prepare_ivf_decon,
)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    qset = _decon_qset(spark, sf_dir)
    hits = _decon_hits(spark, sf_dir, qset)
    sem = hits.groupBy(F.col("cand_id").alias("doc_id")).agg(
        F.sum(F.when(F.col("cosine") >= _DECON_TAU, 1).otherwise(0))
        .cast("long")
        .alias("n_semantic_hits"),
        F.max("cosine").alias("max_cosine"),
    )
    return _decon_report(spark, sf_dir, sem)


def _decon_qset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval request side: organic eval vectors + the planted
    perturbed paraphrases, as (query_id, qsva)."""
    sv = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", scaled_vec("embedding").alias("sva")
    )
    organic_q = sv.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("sva").alias("qsva")
    )
    src = sv.filter(
        (F.col("vec_id") % 97 != 0)
        & (F.col("vec_id") % _DECON_PLANT_MOD == 1)
    )
    rot = F.concat(
        F.slice(F.col("sva"), 2, F.size(F.col("sva")) - 1),
        F.slice(F.col("sva"), 1, 1),
    )

    def _mix(x, y):
        s = F.lit(_DECON_MIX_NUM) * x + y
        den = F.lit(_DECON_MIX_DEN)
        return ((s - (((s % den) + den) % den)) / den).cast("long")

    planted_q = src.select(
        (F.lit(-1) - F.col("vec_id")).cast("long").alias("query_id"),
        F.zip_with(F.col("sva"), rot, _mix).alias("qsva"),
    )
    return organic_q.unionByName(planted_q)


def _decon_hits(
    spark: SparkSession, sf_dir: str, qset: DataFrame
) -> DataFrame:
    """The probe kernel — shared by the batch gate and the streaming
    replay (stream ≡ batch is a property of ONE code path): an eval
    query set probes the persisted IVF index and returns (cand_id,
    cosine) for every probed train candidate."""
    from weather_analysis_bigdata__spark.queries_llmops import (
        _ivf_assign,
        _ivf_centroids,
        _sqdist_col,
    )

    cent_arr = _ivf_centroids(spark, sf_dir)
    assign = _ivf_assign(spark, sf_dir)
    sv = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", scaled_vec("embedding").alias("sva")
    )
    qscored = qset.crossJoin(F.broadcast(cent_arr)).select(
        "query_id",
        "qsva",
        "c_label",
        _sqdist_col(F.col("qsva"), F.col("c_arr")).alias("dist"),
    )
    w_q = Window.partitionBy("query_id").orderBy("dist", "c_label")
    qprobes = (
        qscored.select("query_id", "c_label", F.row_number().over(w_q).alias("rn"))
        .filter(F.col("rn") <= _DECON_PROBES)
        .select("query_id", F.col("c_label").alias("probe_label"))
    )
    cands = assign.join(
        F.broadcast(qprobes),
        F.col("part_label") == F.col("probe_label"),
    ).filter(F.col("cand_id") % 97 != 0).select("query_id", "cand_id")
    from weather_analysis_bigdata__spark.functions.vectorops import (
        arrow_pair_cosine,
    )

    qn = qset.select("query_id", "qsva", norm(F.col("qsva")).alias("qnrm"))
    cn = sv.filter(F.col("vec_id") % 97 != 0).select(
        "vec_id", "sva", norm(F.col("sva")).alias("cnrm")
    )
    # Pair scoring via the Arrow cosine kernel (guide §4.2): one batch
    # int64 dot per candidate pair instead of 64 interpreted lambdas;
    # bit-identical to the dot()/norm product it replaces.
    pairs = (
        cands.join(F.broadcast(qn), "query_id")
        .join(cn.hint("shuffle_hash"), F.col("cand_id") == F.col("vec_id"))
        .select(
            "cand_id",
            F.col("qsva").alias("a_sva"),
            F.col("sva").alias("b_sva"),
            F.col("qnrm").alias("a_nrm"),
            F.col("cnrm").alias("b_nrm"),
        )
    )
    return arrow_pair_cosine(pairs, out="cosine")


def _decon_report(
    spark: SparkSession, sf_dir: str, sem: DataFrame
) -> DataFrame:
    """Compose per-train-doc semantic flags with the n-gram gate into
    the two-rung report — shared verbatim by batch and replay."""
    from weather_analysis_bigdata__spark.queries_ops import (
        decontaminate_train_test,
    )

    ng = decontaminate_train_test(spark, sf_dir)
    emb_ids = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.lit(True).alias("has_embedding")
    )
    out = (
        ng.join(
            emb_ids.hint("shuffle_hash"),
            ng["doc_id"] == emb_ids["vec_id"],
            "left",
        )
        .drop("vec_id")
        .join(sem.hint("shuffle_hash"), "doc_id", "left")
    )
    n_sem = F.coalesce("n_semantic_hits", F.lit(0))
    return out.select(
        "doc_id",
        F.col("is_contaminated").alias("ngram_contaminated"),
        F.col("n_contaminated").cast("long").alias("ngram_hits"),
        F.coalesce("has_embedding", F.lit(False)).alias("has_embedding"),
        n_sem.cast("long").alias("n_semantic_hits"),
        "max_cosine",
        (n_sem > 0).alias("semantic_contaminated"),
        F.when(F.col("is_contaminated") & (n_sem > 0), "both")
        .when(F.col("is_contaminated"), "ngram")
        .when(n_sem > 0, "semantic")
        .otherwise("clean")
        .alias("contamination_rung"),
    )


# ---------------------------------------------------------------------------
# Tokenizer coverage / unk-rate audit (both families)
# ---------------------------------------------------------------------------
#: Planted unseen-script source: Greek-script words NO training doc
#: contains (the corpus is ASCII), mixed with covered ASCII words so
#: the planted source shows a PARTIAL coverage figure, not a trivial
#: zero. The audit must report a non-zero unk rate here — the positive
#: control that the coverage plumbing reads the trained charsets at
#: all (round-7 verdict item 4).
_COVERAGE_PLANT_SOURCE = "unseenscript"
_COVERAGE_PLANT_TEXTS = (
    "αλφα βητα γαμμα δελτα εψιλον ζητα the of",
    "ηρα θητα ιωτα καππα λαμδα in a to",
    "μυ νυ ξι ομικρον πι ρω σιγμα ταυ",
)


def _coverage_oracle() -> str:
    """Literal VALUES built by BOTH independent pure-Python tokenizer
    references (the fertility-oracle pattern): per (source, family),
    word/char totals and unk counts against that family's trained
    charset — unigram's from uref.train's single-char pieces, BPE's
    from bref's word stream (the base alphabet merges never extend)."""
    from weather_analysis_bigdata__spark.operators import (
        bpe_reference as bref,
    )
    from weather_analysis_bigdata__spark.operators import (
        unigram_reference as uref,
    )
    from weather_analysis_bigdata__spark.queries_llmops import _bpe_oracle_sf

    docs = uref._read_documents(_bpe_oracle_sf())
    uni_charset = {
        p for p, _, _ in uref.train(docs) if len(p) == 1
    }
    bpe_charset: set[str] = set()
    for _, _, text in docs:
        for w in bref._words(text):
            bpe_charset.update(w)
    audit = list(docs) + [
        (None, _COVERAGE_PLANT_SOURCE, t) for t in _COVERAGE_PLANT_TEXTS
    ]
    stats: dict[tuple[str, str], list[int]] = {}
    for fam, charset in (("bpe", bpe_charset), ("unigram", uni_charset)):
        for _, source, text in audit:
            acc = stats.setdefault((source, fam), [0, 0, 0, 0])
            for w in uref._words(text):
                unk = sum(1 for c in w if c not in charset)
                acc[0] += 1
                acc[1] += len(w)
                acc[2] += unk
                acc[3] += 1 if unk else 0
    vals = ",\n      ".join(
        f"('{s}', '{f}', {a[0]}, {a[1]}, "
        f"{len(bpe_charset) if f == 'bpe' else len(uni_charset)}, "
        f"{a[2]}, {a[3]})"
        for (s, f), a in sorted(stats.items())
    )
    return f"""
    SELECT source, family,
           CAST(words_total AS BIGINT) AS words_total,
           CAST(chars_total AS BIGINT) AS chars_total,
           CAST(vocab_chars AS BIGINT) AS vocab_chars,
           CAST(unk_chars AS BIGINT) AS unk_chars,
           CAST(unk_words AS BIGINT) AS unk_words,
           CAST((CAST(1000000 AS BIGINT) * (chars_total - unk_chars))
                // NULLIF(CAST(chars_total AS BIGINT), 0) AS BIGINT)
             AS char_coverage_ppm,
           CAST((CAST(1000000 AS BIGINT) * unk_words)
                // NULLIF(CAST(words_total AS BIGINT), 0)
             AS BIGINT) AS unk_word_ppm
    FROM (VALUES
      {vals})
      AS t(source, family, words_total, chars_total, vocab_chars,
           unk_chars, unk_words)
    """


def _prepare_coverage(spark: SparkSession, sf_dir: str) -> None:
    from weather_analysis_bigdata__spark.queries_round7 import (
        _prepare_unigram,
    )

    _prepare_unigram(spark, sf_dir)


@register(
    "tokenizer_coverage_audit",
    oracle=_coverage_oracle,
    doc="TOKENIZER COVERAGE audit — the vocab-size/byte-fallback gate a "
    "real training run reads BEFORE tokenizer_fertility_compare's "
    "efficiency comparison matters: per (source, tokenizer family), "
    "character coverage and unk rates against the family's TRAINED "
    "charset (unigram: single-char pieces of the persisted "
    "unigram_vocab index; BPE: the training corpus's base alphabet, "
    "which merges never extend). Words containing any out-of-charset "
    "character are the byte-fallback demand — chars/words counted "
    "exactly, reported in ppm. A planted Greek-script source (mixed "
    "with covered ASCII words) is the positive control: its unk rate "
    "MUST be non-zero for both families while every organic source "
    "reads 1.0 coverage (pytest-gated). Scale shape: the charsets are "
    "O(alphabet) driver state (the BPE-merges-collect precedent), the "
    "per-word unk counts fold over the DISTINCT-word table (Heaps-law "
    "trick) with charset membership as a broadcast literal, and one "
    "word join fans the counts back over the corpus — no shuffle "
    "carries more than (word, counts) rows. Oracle: literal VALUES "
    "from BOTH independent pure-Python references, so a hash match "
    "certifies each family's trained charset end-to-end.",
    prepare=_prepare_coverage,
)
def tokenizer_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_analysis_bigdata__spark.operators.bpe import _word_freqs
    from weather_analysis_bigdata__spark.queries_round7 import (
        _unigram_vocab,
    )

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    planted = spark.range(len(_COVERAGE_PLANT_TEXTS)).select(
        F.lit(_COVERAGE_PLANT_SOURCE).alias("source"),
        F.element_at(
            F.array(*[F.lit(t) for t in _COVERAGE_PLANT_TEXTS]),
            (F.col("id") + 1).cast("int"),
        ).alias("text"),
    )
    corpus = docs.unionByName(planted)
    # Trained charsets: bounded driver state (≤ alphabet size), the
    # BPE-merge-table precedent. Training inputs are the ORGANIC docs
    # only — the planted source is eval-side by construction.
    uni_charset = sorted(
        r["piece"]
        for r in _unigram_vocab(spark, sf_dir)
        .filter(F.length("piece") == 1)
        .collect()
    )
    bpe_charset = sorted(
        r["ch"]
        for r in _word_freqs(docs)
        .select(F.explode(F.split("word", "")).alias("ch"))
        .distinct()
        .collect()
    )
    occ = corpus.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                lambda w: w != "",
            )
        ).alias("word"),
    )
    chars = F.split(F.col("word"), "")

    def n_unk(charset):
        return F.size(
            F.filter(chars, lambda c: ~c.isin(*charset))
        ).cast("long")

    per_word = occ.select("word").distinct().select(
        "word",
        F.length("word").cast("long").alias("wc"),
        n_unk(bpe_charset).alias("unk_bpe"),
        n_unk(uni_charset).alias("unk_uni"),
    )
    agg = (
        occ.join(per_word.hint("shuffle_hash"), "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("words_total"),
            F.sum("wc").cast("long").alias("chars_total"),
            F.sum("unk_bpe").cast("long").alias("unk_bpe"),
            F.sum(F.when(F.col("unk_bpe") > 0, 1).otherwise(0))
            .cast("long")
            .alias("unk_words_bpe"),
            F.sum("unk_uni").cast("long").alias("unk_uni"),
            F.sum(F.when(F.col("unk_uni") > 0, 1).otherwise(0))
            .cast("long")
            .alias("unk_words_uni"),
        )
    )
    long = agg.select(
        "source",
        "words_total",
        "chars_total",
        F.expr(
            f"stack(2, 'bpe', CAST({len(bpe_charset)} AS BIGINT), "
            "unk_bpe, unk_words_bpe, "
            f"'unigram', CAST({len(uni_charset)} AS BIGINT), "
            "unk_uni, unk_words_uni) "
            "AS (family, vocab_chars, unk_chars, unk_words)"
        ),
    )
    return long.select(
        "source",
        "family",
        "words_total",
        "chars_total",
        "vocab_chars",
        "unk_chars",
        "unk_words",
        F.expr(
            "(1000000 * (chars_total - unk_chars)) div "
            "nullif(chars_total, 0)"
        ).alias("char_coverage_ppm"),
        F.expr(
            "(1000000 * unk_words) div nullif(words_total, 0)"
        ).alias("unk_word_ppm"),
    )


# ---------------------------------------------------------------------------
# Interleaved multimodal training-record assembly (MMC4-pattern capstone)
# ---------------------------------------------------------------------------
#: Per-media token costs in the assembled record: image cost = w·h
#: decoded pixels (vision "patch tokens" scale with resolution), audio
#: cost = decoded energy-frame count — both read from the REAL decode
#: kernels, so the accounting is a function of media content, not a
#: placeholder constant.
_ASM_KIND_RANK = {"text": 0, "image": 1, "audio": 2}


def _assembly_oracle() -> str:
    from weather_analysis_bigdata__spark.queries_hygiene import (
        _sql_paragraphs,
    )
    from weather_analysis_bigdata__spark.queries_round5 import (
        _sql_audio_perdoc,
        _sql_img_perdoc,
    )

    para_words = "len(regexp_split_to_array(trim(para), '\\s+'))"
    return f"""
    WITH {_sql_paragraphs()},
    {_sql_img_perdoc()},
    {_sql_audio_perdoc()},
    np AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS np
      FROM para GROUP BY doc_id
    ),
    ikeep AS (
      SELECT doc_id, w, h, phash FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY w, h, phash) AS rep
        FROM perdoc) WHERE doc_id = rep
    ),
    akeep AS (
      SELECT doc_id, n_frames, afp FROM (
        SELECT *, MIN(doc_id) OVER (
          PARTITION BY sample_rate, n_frames, afp) AS rep
        FROM afpd) WHERE doc_id = rep
    ),
    seg AS (
      SELECT doc_id, CAST(2 * win_id AS BIGINT) AS slot, 0 AS kr,
             'text' AS kind, CAST(win_id AS BIGINT) AS win_id,
             CAST(NULL AS BIGINT) AS media_ref,
             CAST({para_words} AS BIGINT) AS token_cost
      FROM para
      UNION ALL
      SELECT i.doc_id, 2 * (i.phash % n.np) + 1, 1, 'image',
             CAST(NULL AS BIGINT), i.phash, i.w * i.h
      FROM ikeep i JOIN np n USING (doc_id)
      UNION ALL
      SELECT a.doc_id, 2 * (a.afp % n.np) + 1, 2, 'audio',
             CAST(NULL AS BIGINT), a.afp, a.n_frames
      FROM akeep a JOIN np n USING (doc_id)
    ),
    o AS (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY slot, kr) - 1 AS BIGINT) AS seq,
             CAST(SUM(CASE WHEN kind = 'text' THEN token_cost ELSE 0 END)
               OVER (PARTITION BY doc_id) AS BIGINT) AS rec_text_tokens,
             CAST(SUM(CASE WHEN kind <> 'text' THEN token_cost ELSE 0 END)
               OVER (PARTITION BY doc_id) AS BIGINT) AS rec_media_tokens,
             CAST(SUM(CASE WHEN kind <> 'text' THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id) AS BIGINT) AS rec_media_segments
      FROM seg
    )
    SELECT doc_id, seq, kind, win_id, media_ref, token_cost,
           rec_text_tokens, rec_media_tokens,
           rec_text_tokens + rec_media_tokens AS rec_total_tokens,
           rec_media_segments
    FROM o
    """


@register(
    "multimodal_interleave_assembly",
    oracle=_assembly_oracle,
    doc="INTERLEAVED multimodal training-record assembly — the "
    "MMC4-pattern step between the ingest router's keep decisions and "
    "pack_sequences_*: per document, text paragraph spans and kept "
    "media placeholders are laid out in ONE deterministic sequence "
    "(text span at slot 2·win_id; a media placeholder after the "
    "paragraph its fingerprint addresses, slot 2·(hash mod n_paras)+1; "
    "image-before-audio on slot ties), with per-segment token costs "
    "read from the REAL decode kernels (image = w·h decoded pixels — "
    "vision patch tokens scale with resolution; audio = energy-frame "
    "count) and per-record modality/token accounting on every row. "
    "Keep decisions are the dedup endgame: a doc carries its image/"
    "audio iff it is the min-doc_id representative of that media's "
    "exact fingerprint group — duplicated media lands in EXACTLY ONE "
    "record corpus-wide (the conservation law, pytest-gated). Scale "
    "shape: paragraph spans explode shuffle-free, each media rung is "
    "one fingerprint-keyed window, the interleave is a per-doc window "
    "over a handful of segments, and the accounting is one doc-keyed "
    "regroup — no shuffle carries more than (doc, segment) rows. "
    "Oracle recomputes the decode hashes in closed form, so the hash "
    "match certifies decode + keep + interleave + accounting "
    "end-to-end. Ref: Weather_API.py has no multimodal surface "
    "(charter extension; MMC4 = Zhu et al. 2023).",
)
def multimodal_interleave_assembly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from weather_analysis_bigdata__spark.operators.multimodal import (
        ppm_phash,
        synth_media,
        wav_fingerprint,
    )
    from weather_analysis_bigdata__spark.functions.textops import (
        arrow_paragraph_rows,
    )
    from weather_analysis_bigdata__spark.queries_hygiene import _PARA_W

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    para = arrow_paragraph_rows(docs, _PARA_W)
    np_ = para.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("np")
    )
    ids = docs.select("doc_id")
    img = ppm_phash(synth_media(ids, "ppm"))
    aud = wav_fingerprint(synth_media(ids, "wav"))
    w_img = Window.partitionBy("w", "h", "phash")
    ikeep = img.withColumn("rep", F.min("doc_id").over(w_img)).filter(
        F.col("doc_id") == F.col("rep")
    )
    w_aud = Window.partitionBy("sample_rate", "n_frames", "afp")
    akeep = aud.withColumn("rep", F.min("doc_id").over(w_aud)).filter(
        F.col("doc_id") == F.col("rep")
    )
    null_l = F.lit(None).cast("long")
    tseg = para.select(
        "doc_id",
        (2 * F.col("win_id")).cast("long").alias("slot"),
        F.lit(0).alias("kr"),
        F.lit("text").alias("kind"),
        F.col("win_id").cast("long").alias("win_id"),
        null_l.alias("media_ref"),
        F.size(tokens("para")).cast("long").alias("token_cost"),
    )
    iseg = ikeep.join(np_.hint("shuffle_hash"), "doc_id").select(
        "doc_id",
        (2 * (F.col("phash") % F.col("np")) + 1).cast("long").alias("slot"),
        F.lit(1).alias("kr"),
        F.lit("image").alias("kind"),
        null_l.alias("win_id"),
        F.col("phash").alias("media_ref"),
        (F.col("w") * F.col("h")).cast("long").alias("token_cost"),
    )
    aseg = akeep.join(np_.hint("shuffle_hash"), "doc_id").select(
        "doc_id",
        (2 * (F.col("afp") % F.col("np")) + 1).cast("long").alias("slot"),
        F.lit(2).alias("kr"),
        F.lit("audio").alias("kind"),
        null_l.alias("win_id"),
        F.col("afp").alias("media_ref"),
        F.col("n_frames").cast("long").alias("token_cost"),
    )
    seg = tseg.unionByName(iseg).unionByName(aseg)
    # The per-record accounting rides the SAME doc-partitioned sort the
    # sequencing window needs (whole-partition frames): one shuffle,
    # one sort, no acct regroup, no doc-keyed stitch — and the seg
    # subtree (paragraph explode + two decode kernels) executes once.
    w_doc = Window.partitionBy("doc_id").orderBy("slot", "kr")
    w_rec = Window.partitionBy("doc_id")
    is_media = F.col("kind") != "text"
    o = seg.select(
        "*",
        (F.row_number().over(w_doc) - 1).cast("long").alias("seq"),
        F.sum(F.when(~is_media, F.col("token_cost")).otherwise(0))
        .over(w_rec)
        .cast("long")
        .alias("rec_text_tokens"),
        F.sum(F.when(is_media, F.col("token_cost")).otherwise(0))
        .over(w_rec)
        .cast("long")
        .alias("rec_media_tokens"),
        F.sum(F.when(is_media, 1).otherwise(0))
        .over(w_rec)
        .cast("long")
        .alias("rec_media_segments"),
    )
    return o.select(
        "doc_id",
        "seq",
        "kind",
        "win_id",
        "media_ref",
        "token_cost",
        "rec_text_tokens",
        "rec_media_tokens",
        (F.col("rec_text_tokens") + F.col("rec_media_tokens")).alias(
            "rec_total_tokens"
        ),
        "rec_media_segments",
    )


# ---------------------------------------------------------------------------
# Packing the interleaved records (assembly → loader shards)
# ---------------------------------------------------------------------------
#: Shard token budget for interleaved records — the text packers'
#: budget (queries_ops._PACK_BUDGET), reused so the multimodal shards
#: drop into the same loader manifest machinery.
_PACK_MM_BUDGET = 8192


def _pack_mm_oracle() -> str:
    from weather_analysis_bigdata__spark.queries_round5 import (
        _sql_audio_perdoc,
        _sql_img_perdoc,
    )

    return f"""
    WITH {_sql_img_perdoc()},
    {_sql_audio_perdoc()},
    ikeep AS (
      SELECT doc_id, w, h FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY w, h, phash) AS rep
        FROM perdoc) WHERE doc_id = rep
    ),
    akeep AS (
      SELECT doc_id, n_frames FROM (
        SELECT *, MIN(doc_id) OVER (
          PARTITION BY sample_rate, n_frames, afp) AS rep
        FROM afpd) WHERE doc_id = rep
    ),
    rec AS (
      SELECT d.doc_id,
             CAST(len({SQL_TOKENS.format(c='d.text')}) AS BIGINT)
               AS text_tokens,
             CAST(COALESCE(i.w * i.h, 0) + COALESCE(a.n_frames, 0)
               AS BIGINT) AS media_tokens,
             CAST((CASE WHEN i.doc_id IS NULL THEN 0 ELSE 1 END)
                + (CASE WHEN a.doc_id IS NULL THEN 0 ELSE 1 END)
               AS BIGINT) AS n_media
      FROM documents d
      LEFT JOIN ikeep i USING (doc_id)
      LEFT JOIN akeep a USING (doc_id)
    ),
    packed AS (
      SELECT *, text_tokens + media_tokens AS rec_total,
             COALESCE(SUM(text_tokens + media_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM rec
    )
    SELECT CAST(cum_before // {_PACK_MM_BUDGET} AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(SUM(text_tokens) AS BIGINT) AS text_tokens,
           CAST(SUM(media_tokens) AS BIGINT) AS media_tokens,
           CAST(SUM(rec_total) AS BIGINT) AS total_tokens,
           CAST(SUM(n_media) AS BIGINT) AS n_media_segments,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc,
           CAST(SUM(rec_total) AS DOUBLE) / {_PACK_MM_BUDGET}
             AS fill_ratio
    FROM packed GROUP BY 1
    """


@register(
    "pack_interleaved_records",
    oracle=_pack_mm_oracle,
    doc="PACK the interleaved multimodal records into loader shards — "
    "the step that closes the router → assembly → pack loop: each "
    "record's budget demand is its FULL interleaved cost "
    "(text tokens + media patch/frame tokens from the same keep "
    "decisions as multimodal_interleave_assembly; records are ATOMIC "
    "— a media placeholder never splits across shards because the "
    f"whole record never does), packed contiguously by doc_id via "
    f"exclusive running total div {_PACK_MM_BUDGET} (the "
    "pack_sequences_fixed_budget scheme). Per shard: record/token/"
    "media accounting and fill ratio — what a multimodal loader "
    "needs to budget vision tokens per context window. Scale shape: "
    "the prefix sum is the two-pass window-free form "
    "(functions/distributed.py — range buckets, per-bucket sums, "
    "broadcast exclusive offsets, partitioned local cumsum), so no "
    "single-partition WindowExec exists anywhere in the plan; the "
    "media sides are one fingerprint-keyed window each.",
)
def pack_interleaved_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_analysis_bigdata__spark.functions.distributed import (
        exclusive_prefix_offsets,
        range_bucketed,
    )
    from weather_analysis_bigdata__spark.operators.multimodal import (
        ppm_phash,
        synth_media,
        wav_fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ids = docs.select("doc_id")
    w_img = Window.partitionBy("w", "h", "phash")
    ikeep = (
        ppm_phash(synth_media(ids, "ppm"))
        .withColumn("rep", F.min("doc_id").over(w_img))
        .filter(F.col("doc_id") == F.col("rep"))
        .select("doc_id", (F.col("w") * F.col("h")).alias("img_tokens"))
    )
    w_aud = Window.partitionBy("sample_rate", "n_frames", "afp")
    akeep = (
        wav_fingerprint(synth_media(ids, "wav"))
        .withColumn("rep", F.min("doc_id").over(w_aud))
        .filter(F.col("doc_id") == F.col("rep"))
        .select("doc_id", F.col("n_frames").alias("aud_tokens"))
    )
    rec = (
        docs.select(
            "doc_id",
            F.size(tokens("text")).cast("long").alias("text_tokens"),
        )
        .join(ikeep.hint("shuffle_hash"), "doc_id", "left")
        .join(akeep.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            "text_tokens",
            (
                F.coalesce("img_tokens", F.lit(0))
                + F.coalesce("aud_tokens", F.lit(0))
            )
            .cast("long")
            .alias("media_tokens"),
            (
                F.when(F.col("img_tokens").isNotNull(), 1).otherwise(0)
                + F.when(F.col("aud_tokens").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_media"),
        )
        .withColumn(
            "rec_total", F.col("text_tokens") + F.col("media_tokens")
        )
    )
    t = range_bucketed(rec, "doc_id", 16)
    psums = t.groupBy("_pid").agg(F.sum("rec_total").alias("_n"))
    offsets = exclusive_prefix_offsets(psums, "_pid", "_n", "_off")
    wloc = (
        Window.partitionBy("_pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = t.join(F.broadcast(offsets), "_pid").select(
        "doc_id",
        "text_tokens",
        "media_tokens",
        "n_media",
        "rec_total",
        F.floor(
            (
                F.col("_off")
                + F.coalesce(F.sum("rec_total").over(wloc), F.lit(0))
            )
            / _PACK_MM_BUDGET
        )
        .cast("long")
        .alias("shard_id"),
    )
    return packed.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.sum("text_tokens").cast("long").alias("text_tokens"),
        F.sum("media_tokens").cast("long").alias("media_tokens"),
        F.sum("rec_total").cast("long").alias("total_tokens"),
        F.sum("n_media").cast("long").alias("n_media_segments"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
        (F.sum("rec_total").cast("double") / _PACK_MM_BUDGET).alias(
            "fill_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# Streaming twin: the semantic decontamination gate at line rate
# ---------------------------------------------------------------------------
@register(
    "streaming_decontaminate_semantic_replay",
    oracle=_decon_oracle,  # the batch gate's oracle VERBATIM
    doc="The semantic decontamination gate RUN BY THE STREAMING ENGINE "
    "— eval/benchmark batches arrive over time in production (every "
    "new benchmark release re-screens the training corpus), so the "
    "gate must commute with micro-batching: the eval query set "
    "replays as 3 ORDERED micro-batches (one mtime-ordered file each, "
    "maxFilesPerTrigger=1), foreachBatch runs the SAME _decon_hits "
    "kernel per micro-batch against the PERSISTED IVF indexes and "
    "publishes batch_id-keyed hit segments (idempotent overwrite, "
    "at-least-once safe); the per-candidate regroup and the n-gram "
    "composition run once over the segment scan. Registered oracle = "
    "decontaminate_semantic's SQL VERBATIM: the hash match proves the "
    "two-rung report commutes with micro-batching (count/max over "
    "hits are associative — the algebraic fact the replay certifies "
    "end-to-end). Planted paraphrases ride whichever micro-batch "
    "their query_id hashes into, so the positive control crosses the "
    "stream boundary too.",
    prepare=_prepare_ivf_decon,
)
def streaming_decontaminate_semantic_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    qset = _decon_qset(spark, sf_dir)
    # 3 deterministic arrival slices (query_id mod), in slice order.
    hits = replay_segments(
        spark,
        [
            qset.filter((F.abs(F.col("query_id")) % 3).cast("int") == i)
            for i in range(3)
        ],
        lambda bdf, _: _decon_hits(spark, sf_dir, bdf),
        "decon",
    )
    sem = hits.groupBy(F.col("cand_id").alias("doc_id")).agg(
        F.sum(F.when(F.col("cosine") >= _DECON_TAU, 1).otherwise(0))
        .cast("long")
        .alias("n_semantic_hits"),
        F.max("cosine").alias("max_cosine"),
    )
    return _decon_report(spark, sf_dir, sem)


# ---------------------------------------------------------------------------
# Semantic-decontamination τ sweep (the gate's operating-point curve)
# ---------------------------------------------------------------------------
#: τ grid: k/20 for k in 6..19 → 0.30 … 0.95, bracketing both the
#: organic cosine ceiling (~0.50) and the planted paraphrases (~0.99).
_DECON_SWEEP_LO, _DECON_SWEEP_HI = 6, 19


def _decon_sweep_oracle() -> str:
    return f"""
    WITH {_decon_sql_hits_ctes()},
    perdoc AS (
      SELECT cand_id, MAX(cosine) AS mc FROM hits GROUP BY cand_id
    ),
    hist AS (
      SELECT CAST(floor(mc * 20) AS BIGINT) AS bucket,
             (cand_id % {_DECON_PLANT_MOD} = 1) AS is_src,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM perdoc GROUP BY 1, 2
    ),
    grid AS (
      SELECT CAST(k AS BIGINT) AS k
      FROM unnest(generate_series({_DECON_SWEEP_LO},
                                  {_DECON_SWEEP_HI})) AS g(k)
    )
    SELECT g.k AS threshold_rank,
           CAST(g.k AS DOUBLE) / 20 AS tau,
           CAST(COALESCE(SUM(h.n), 0) AS BIGINT) AS n_flagged,
           CAST(COALESCE(SUM(h.n) FILTER (h.is_src), 0) AS BIGINT)
             AS n_planted_flagged,
           CAST(COALESCE(SUM(h.n) FILTER (NOT h.is_src), 0) AS BIGINT)
             AS n_organic_flagged
    FROM grid g LEFT JOIN hist h ON h.bucket >= g.k
    GROUP BY g.k
    """


@register(
    "decontaminate_semantic_threshold_sweep",
    oracle=_decon_sweep_oracle,
    doc="The semantic gate's OPERATING-POINT curve — the "
    "quality_classifier_threshold_sweep pattern applied to the "
    "paraphrase rung: per τ on a 14-point grid (0.30…0.95, bracketing "
    "the measured ~0.50 organic ceiling and the ~0.99 planted "
    "paraphrases), how many train docs the gate would flag, split "
    "into planted paraphrase sources (the known positives — a recall "
    "proxy) and organic flags (the precision cost a curator weighs). "
    "The table that justifies τ = 0.8 as the production point: every "
    "τ in [0.55, 0.95] flags exactly the planted set and nothing "
    "else on this corpus, i.e. the gate is threshold-robust across a "
    "0.4-wide plateau. Shape: the probe kernel runs ONCE; per-doc "
    "max-cosines reduce to a ≤ 2×21-row bucket histogram "
    "(floor(20·cos) — the two-pass bounded-grid trick), and the grid "
    "algebra is a ≤ 14×42-row broadcast join. At 100 TB the sweep "
    "costs the same one probe pass as the gate itself.",
    prepare=_prepare_ivf_decon,
)
def decontaminate_semantic_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    hits = _decon_hits(spark, sf_dir, _decon_qset(spark, sf_dir))
    perdoc = hits.groupBy("cand_id").agg(F.max("cosine").alias("mc"))
    hist = (
        perdoc.select(
            F.floor(F.col("mc") * 20).cast("long").alias("bucket"),
            ((F.col("cand_id") % _DECON_PLANT_MOD) == 1).alias("is_src"),
        )
        .groupBy("bucket", "is_src")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    grid = spark.range(_DECON_SWEEP_LO, _DECON_SWEEP_HI + 1).select(
        F.col("id").cast("long").alias("k")
    )
    j = grid.join(
        F.broadcast(hist), F.col("bucket") >= F.col("k"), "left"
    )
    return (
        j.groupBy("k")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0))
            .cast("long")
            .alias("n_flagged"),
            F.coalesce(F.sum(F.when(F.col("is_src"), F.col("n"))), F.lit(0))
            .cast("long")
            .alias("n_planted_flagged"),
            F.coalesce(
                F.sum(F.when(~F.col("is_src"), F.col("n"))), F.lit(0)
            )
            .cast("long")
            .alias("n_organic_flagged"),
        )
        .select(
            F.col("k").alias("threshold_rank"),
            (F.col("k").cast("double") / 20).alias("tau"),
            "n_flagged",
            "n_planted_flagged",
            "n_organic_flagged",
        )
    )
