"""Round-8 continuation batch: the governance family's third rung and
the spectral (PCA) operator family.

- **t-closeness audit** (`t_closeness_audit`): k_anonymity_audit
  bounds equivalence-class SIZE, l_diversity_audit bounds class
  CONTENT cardinality — but a class can be large AND diverse yet still
  leak if its sensitive-attribute *distribution* is skewed far from
  the corpus baseline (the skewness attack t-closeness was introduced
  for). This completes the privacy-audit ladder with the
  distribution-distance rung: per QI class, the total-variation
  distance between the class's sensitive distribution and the global
  one, computed in EXACT integer arithmetic.

- **The PCA family** — the linear-algebra primitive every
  embedding-curation pipeline reaches for that the ANN/centroid
  family does not cover, as five composable queries:
  `embedding_pca_top_component` (solve), `embedding_pca_outlier_scores`
  (score every vector against the PERSISTED component),
  `embedding_pca_drift_direction` (per-slice components from one
  tag-multiplexed moment pass, integer squared-cosine drift gate),
  `embedding_pca_top2_components` (top-2 by exact integer deflation,
  orthogonality self-audit in the result), and
  `streaming_embedding_pca_score_replay` (the scorer at ingest —
  stream ≡ batch via the shared kernel + verbatim oracle).

  Spark-first shape shared by all five: ONE distributed pass builds
  the exact d×d second-moment matrix by map-side partial aggregation
  of per-row outer products (the shuffle carries O(d²·partitions)
  rows, never O(N)); the O(d²) eigensolve runs driver-side — the same
  bounded-driver-state split the unigram trainer and BPE merge table
  use, and exactly how a 1000-executor PCA over 100 TB is built
  (d=64 here; the Gram pass is the only part that sees the data).
  Exactness: fixed-point integer power iteration (floor-division
  renormalization) over an integer moment matrix — bit-identical in
  pure-Python ints and DuckDB HUGEINT arithmetic, so every oracle
  match is exact, never tolerance-based.

Reference parity note: the reference (Weather_API.py) has neither
privacy audits nor spectral ops — charter-extension breadth on the
`customer` and `embeddings` tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from weather_analysis_bigdata__spark.functions.vectorops import scaled_vec
from weather_analysis_bigdata__spark.registry import register
from weather_analysis_bigdata__spark.session import pin
from weather_analysis_bigdata__spark.sources.files import load_table
from weather_analysis_bigdata__spark.streaming.replay import replay_segments

# ---------------------------------------------------------------------------
# t-closeness audit (sensitive-distribution distance per QI class)
# ---------------------------------------------------------------------------
#: t threshold = 0.4. Measured on this corpus: class TVDs span
#: 0.009–0.81 with median ≈ 0.39 (sf0.01), so 0.4 splits the classes
#: rather than rubber-stamping them. The flag compares in exact
#: integers: tvd = Σ|c_s·N − g_s·k| / (2kN) > 0.4 ⇔ 5·num > 4·k·N.
_TCLOSE_FLAG_NUM = 5
_TCLOSE_FLAG_DEN = 4


@register(
    "t_closeness_audit",
    oracle="""
    WITH q AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS balance_band,
             c_mktsegment AS s
      FROM customer
    ),
    g AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS gs FROM q GROUP BY s),
    n AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM q),
    cs AS MATERIALIZED (
      SELECT c_nationkey, balance_band, s, CAST(COUNT(*) AS BIGINT) AS c
      FROM q GROUP BY c_nationkey, balance_band, s
    ),
    kk AS (
      SELECT c_nationkey, balance_band, CAST(SUM(c) AS BIGINT) AS k
      FROM cs GROUP BY c_nationkey, balance_band
    ),
    fl AS (
      SELECT kk.c_nationkey, kk.balance_band, kk.k, g.gs, n.nn,
             COALESCE(cs.c, 0) AS c
      FROM kk CROSS JOIN g CROSS JOIN n
      LEFT JOIN cs ON cs.c_nationkey = kk.c_nationkey
                  AND cs.balance_band = kk.balance_band
                  AND cs.s = g.s
    )
    SELECT c_nationkey, balance_band,
           MAX(k) AS k,
           CAST(SUM(ABS(c * nn - gs * k)) AS BIGINT) AS tvd_num_scaled,
           CAST(CAST(SUM(ABS(c * nn - gs * k)) AS BIGINT) AS DOUBLE)
             / CAST(2 * MAX(k) * MAX(nn) AS DOUBLE) AS tvd,
           5 * CAST(SUM(ABS(c * nn - gs * k)) AS BIGINT)
             > 4 * MAX(k) * MAX(nn) AS t_risk
    FROM fl GROUP BY c_nationkey, balance_band
    """,
    doc="t-closeness audit — the privacy ladder's third rung "
    "(k_anonymity_audit bounds class SIZE, l_diversity_audit bounds "
    "distinct sensitive values; this bounds the class's sensitive "
    "DISTRIBUTION): per (nation, balance-band) QI class, the total-"
    "variation distance between the class's market-segment "
    "distribution and the global one, flagged at t = 0.4 (measured "
    "class-TVD spread on this corpus: 0.009-0.81, median 0.39 — the "
    "threshold discriminates). Exactness contract: TVD numerator "
    "Σ_s |c_s·N − g_s·k| is pure 64-bit integer arithmetic (common "
    "denominator 2kN; the one double division of identical integers "
    "is correctly rounded on both engines) and the flag compares "
    "integers only. Plan shape: one shuffle on the QI tuple for class "
    "counts; the global segment distribution is O(segments) rows and "
    "broadcasts, and classes missing a segment are restored by "
    "crossing the class list with the broadcast segment dimension — "
    "at 100 TB the fact table is touched once, everything after is "
    "O(classes·segments).",
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    q = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("balance_band"),
        F.col("c_mktsegment").alias("s"),
    )
    # ONE exchange on the class key: the (class, segment) counts, the
    # per-class size window, and the final per-class aggregate all ride
    # hash(c_nationkey, balance_band) — Spark plans no further shuffle
    # for group keys that are supersets of the partitioning.
    base = q.repartition("c_nationkey", "balance_band")
    cs = base.groupBy("c_nationkey", "balance_band", "s").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cls = Window.partitionBy("c_nationkey", "balance_band")
    # O(classes·segments) rows, pinned once (the threshold-sweep
    # idiom) so the three consumers below — per-class terms, the
    # global segment distribution, and N — share ONE execution of the
    # fact scan instead of Spark re-planning the subtree per
    # reference. Fault-tolerance posture (local non-reliable blocks
    # vs cluster persist(DISK_ONLY)+count) is session.pin's
    # SPARK_GRAFT_PIN_MODE switch.
    csk = cs.select("*", F.sum("c").over(w_cls).alias("k")).transform(pin)
    # Global segment distribution derives from the pinned table —
    # the fact table is never rescanned; N folds from g.
    g = csk.groupBy("s").agg(F.sum("c").alias("gs"))
    n = g.agg(F.sum("gs").alias("nn"))
    # Missing-segment terms fold analytically: Σ_{s∉class} g_s·k =
    # k·N − Σ_{s∈class} g_s·k, so only observed (class, segment) rows
    # are ever materialized.
    t = csk.join(F.broadcast(g), "s").crossJoin(F.broadcast(n))

    term = F.abs(F.col("c") * F.col("nn") - F.col("gs") * F.col("k")) - F.col(
        "gs"
    ) * F.col("k")
    agg = t.groupBy("c_nationkey", "balance_band").agg(
        F.max("k").alias("k"),
        F.sum(term).alias("part"),
        F.max("nn").alias("nn"),
    )
    agg = agg.select(
        "c_nationkey",
        "balance_band",
        "k",
        "nn",
        (F.col("part") + F.col("k") * F.col("nn"))
        .cast("long")
        .alias("tvd_num_scaled"),
    )
    return agg.select(
        "c_nationkey",
        "balance_band",
        "k",
        "tvd_num_scaled",
        (
            F.col("tvd_num_scaled").cast("double")
            / (F.lit(2) * F.col("k") * F.col("nn")).cast("double")
        ).alias("tvd"),
        (
            F.lit(_TCLOSE_FLAG_NUM) * F.col("tvd_num_scaled")
            > F.lit(_TCLOSE_FLAG_DEN) * F.col("k") * F.col("nn")
        ).alias("t_risk"),
    )


# ---------------------------------------------------------------------------
# PCA top component: distributed exact moment matrix + integer power iteration
# ---------------------------------------------------------------------------
#: Per-element quantization for the moment pass. Coarser than the
#: vectorops 1e8 contract ON PURPOSE: Gram entries are Σ_N x_i·x_j, so
#: the element scale is squared and multiplied by N — at 1e4 the
#: per-row product is ≤ (0.6·1e4)² ≈ 3.6e7 and the sum stays exact in
#: 64 bits past N = 1e11 rows (at the 1e8 contract it would overflow
#: by N ≈ 200). Derived from the verified-identical 1e8 quantization
#: by floor division, so both engines still agree bit-for-bit.
_PCA_DOWN = 10_000  # 1e8 / 1e4
_PCA_DIM = 64
_PCA_ITERS = 8
_PCA_VSCALE = 1 << 20  # fixed-point scale of the iterated eigvector
_PCA_GBOUND = 1 << 30  # moment entries floor-shifted until |m| < this


def _fd(s: str, n: str) -> str:
    """Exact FLOOR division for DuckDB at any integer magnitude.
    DuckDB's `//` TRUNCATES toward zero on negatives (measured: -15461234
    // 10000 = -1546, Python floors to -1547), and the shared
    _SQL_FLOORDIV macro routes through `/`, which DuckDB evaluates as
    DOUBLE — inexact past 2^53. This form subtracts the positive
    remainder first, so the `//` divides exactly and trunc == floor,
    keeping every step in (HUGE)integer arithmetic."""
    return f"((({s}) - (((({s}) % ({n})) + ({n})) % ({n}))) // ({n}))"


def _pca_iter_ctes(mat: str, pref: str) -> tuple[str, str]:
    """The fixed-point power-iteration CTE chain over matrix CTE
    ``mat`` (columns i, j, m), names prefixed with ``pref`` so two
    chains (component 1, deflated component 2) can share one WITH
    block. Returns (cte_fragment, final_iterate_name)."""
    v = _PCA_VSCALE
    its = []
    prev = f"it{pref}0"
    for t in range(1, _PCA_ITERS + 1):
        its.append(
            f"""w{pref}{t} AS MATERIALIZED (
      SELECT {mat}.i AS pos, CAST(SUM({mat}.m * {prev}.v) AS BIGINT) AS w
      FROM {mat} JOIN {prev} ON {mat}.j = {prev}.pos GROUP BY {mat}.i
    ),
    d{pref}{t} AS MATERIALIZED (
      SELECT GREATEST(CAST(1 AS BIGINT),
                      CAST({_fd('MAX(ABS(w))', str(v))} AS BIGINT)) AS dd
      FROM w{pref}{t}
    ),
    it{pref}{t} AS MATERIALIZED (
      SELECT pos, CAST({_fd('w', 'dd')} AS BIGINT) AS v
      FROM w{pref}{t}, d{pref}{t}
    )"""
        )
        prev = f"it{pref}{t}"
    return ",\n    ".join(its), prev


def _pca_pows(hi: int = 63) -> str:
    """Powers-of-two VALUES rows for the shift search: literal rows
    keep every comparison exact (the shift bound multiplies by 2^30,
    so comparisons are cast to HUGEINT where the matrix is)."""
    return ", ".join(f"({k}, {1 << k})" for k in range(hi))


def _pca_base_ctes(where: str = "TRUE") -> str:
    """The shared front of every PCA oracle: quantize → upper-triangle
    Gram + column sums → centered integer moment matrix → floor-shift
    into the iteration range (CTE ``mq``) → initial iterate ``it0``."""
    v = _PCA_VSCALE
    d = _PCA_DIM
    pows = _pca_pows()
    return f"""sv AS MATERIALIZED (
      SELECT list_transform(embedding,
               x -> {_fd('CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,8)) '
                         f'* 100000000 AS BIGINT)', str(_PCA_DOWN))}) AS qa
      FROM embeddings WHERE {where}
    ),
    n AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM sv),
    pr AS MATERIALIZED (
      SELECT CAST(ti.i AS INT) AS i, CAST(tj.j AS INT) AS j,
             CAST(SUM(qa[ti.i + 1] * qa[tj.j + 1]) AS BIGINT) AS g
      FROM sv, range(0, {d}) ti(i), range(0, {d}) tj(j)
      WHERE tj.j >= ti.i GROUP BY ti.i, tj.j
    ),
    cs AS MATERIALIZED (
      SELECT CAST(ti.i AS INT) AS i, CAST(SUM(qa[ti.i + 1]) AS BIGINT) AS s
      FROM sv, range(0, {d}) ti(i) GROUP BY ti.i
    ),
    mfull AS MATERIALIZED (
      SELECT i, j, g FROM pr
      UNION ALL SELECT j AS i, i AS j, g FROM pr WHERE i <> j
    ),
    mm AS MATERIALIZED (
      SELECT f.i, f.j,
             CAST(n.nn AS HUGEINT) * f.g
               - CAST(a.s AS HUGEINT) * b.s AS m
      FROM mfull f, n, cs a, cs b WHERE a.i = f.i AND b.i = f.j
    ),
    mx AS MATERIALIZED (SELECT MAX(ABS(m)) AS ma FROM mm),
    sh AS MATERIALIZED (
      SELECT MIN(p.k) AS k, MIN_BY(p.p2, p.k) AS p2
      FROM (VALUES {pows}) p(k, p2), mx
      WHERE mx.ma < CAST(p.p2 AS HUGEINT) * {_PCA_GBOUND}
    ),
    mq AS MATERIALIZED (
      SELECT i, j, CAST({_fd('m', 'sh.p2')} AS BIGINT) AS m FROM mm, sh
    ),
    it0 AS MATERIALIZED (
      SELECT CAST(t.k AS INT) AS pos, CAST({v} AS BIGINT) AS v
      FROM range(0, {d}) t(k)
    )"""


def _pca_sql(where: str = "TRUE") -> str:
    """DuckDB mirror of the full pipeline: quantize → upper-triangle
    Gram + column sums (the distributed pass) → centered integer
    moment matrix M = N·G − s·sᵀ → floor-shift → fixed-point power
    iteration → sign-canonicalized loadings + integer Rayleigh
    quotient. All divisions go through :func:`_fd` (exact floor
    division), and DuckDB's integer SUM promotes to HUGEINT, so every
    step is exact. ``where`` restricts the vector population (the
    drift query solves per-slice components)."""
    its_sql, prev = _pca_iter_ctes("mq", "")
    return f"""
    WITH {_pca_base_ctes(where)},
    {its_sql},
    sg AS MATERIALIZED (
      SELECT CASE WHEN COALESCE((SELECT v FROM {prev} WHERE v <> 0
                                 ORDER BY pos LIMIT 1), 0) < 0
                  THEN -1 ELSE 1 END AS sg
    ),
    u AS MATERIALIZED (
      SELECT mq.i AS pos, CAST(SUM(mq.m * fv.v) AS BIGINT) AS u
      FROM mq JOIN {prev} fv ON mq.j = fv.pos GROUP BY mq.i
    ),
    ray AS MATERIALIZED (
      SELECT CAST(SUM(CAST(fv.v AS HUGEINT) * u.u) AS HUGEINT) AS num,
             GREATEST(CAST(SUM(CAST(fv.v AS HUGEINT) * fv.v) AS HUGEINT),
                      CAST(1 AS HUGEINT)) AS den
      FROM {prev} fv JOIN u USING (pos)
    ),
    tr AS MATERIALIZED (
      SELECT GREATEST(CAST(SUM(m) AS HUGEINT), CAST(1 AS HUGEINT)) AS trq
      FROM mq WHERE i = j
    )
    SELECT CAST(fv.pos AS BIGINT) AS pos,
           CAST(sg.sg * fv.v AS BIGINT) AS loading_q,
           CAST({_fd('ray.num', 'ray.den')} AS BIGINT) AS eigenvalue_q,
           CAST({_fd('1000000 * ray.num', 'ray.den * tr.trq')} AS BIGINT)
             AS var_explained_ppm,
           n.nn AS n_vectors,
           CAST(sh.k AS BIGINT) AS shift_bits
    FROM {prev} fv, sg, ray, tr, n, sh
    """


@register(
    "embedding_pca_top_component",
    oracle=_pca_sql,
    doc="Distributed PCA, top principal component of the embedding "
    "covariance — the spectral primitive embedding curation needs "
    "(drift directions, whitening, matryoshka truncation audits) that "
    "the centroid/ANN family doesn't cover. Spark-first split: ONE "
    "pass over the vectors builds the exact upper-triangle second-"
    "moment matrix G and column sums s via map-side partial "
    "aggregation of per-row outer products (flatten/transform "
    "generates the d(d+1)/2 products row-locally; the exchange "
    "carries O(d²·partitions) partial rows, never O(N) — the "
    "canonical 100 TB moment-matrix pattern), then the O(d²) = 64×64 "
    "eigensolve runs driver-side in pure-Python integers (bounded "
    "driver state, the unigram-trainer precedent). Exactness "
    "contract: elements quantize to scale 1e4 (floor-derived from the "
    "verified 1e8 vectorops quantization; squared-scale headroom to "
    "N ≈ 1e11 rows), the centered moment matrix M = N·G − s·sᵀ is "
    "exact integers, and the power iteration renormalizes by floor "
    "division at fixed point 2^20 for "
    f"{_PCA_ITERS} iterations — every step bit-identical between "
    "Python ints and the oracle's HUGEINT arithmetic, so the value "
    "hash is exact with NO float tolerance. Output: sign-"
    "canonicalized integer loadings, integer Rayleigh quotient "
    "(eigenvalue), and variance-explained ppm vs the moment trace.",
)
def embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    gram, s, n_vec = _pca_moments(spark, sf_dir)
    loadings, lam_q, var_ppm, k = _pca_power_solve(gram, s, n_vec)
    d = _PCA_DIM

    schema = T.StructType(
        [
            T.StructField("pos", T.LongType()),
            T.StructField("loading_q", T.LongType()),
            T.StructField("eigenvalue_q", T.LongType()),
            T.StructField("var_explained_ppm", T.LongType()),
            T.StructField("n_vectors", T.LongType()),
            T.StructField("shift_bits", T.LongType()),
        ]
    )
    rows = [
        (pos, loadings[pos], lam_q, var_ppm, n_vec, k) for pos in range(d)
    ]
    return spark.createDataFrame(rows, schema)


def _pca_qa_col():
    """The PCA-scale quantized vector column (floor-derived from the
    verified 1e8 vectorops quantization)."""
    down = F.lit(_PCA_DOWN)
    return F.transform(
        scaled_vec("embedding"),
        lambda x: ((x - (((x % down) + down) % down)) / down).cast("long"),
    )


def _qa_matrix(batch) -> "object":
    """Arrow list<int64> ``qa`` column of a record batch → N×d int64
    NumPy matrix (zero-copy of the values buffer when possible)."""
    import numpy as np

    col = batch.column(batch.schema.get_field_index("qa"))
    n = len(col)
    flat = col.flatten().to_numpy(zero_copy_only=False)
    if flat.shape[0] != n * _PCA_DIM:
        raise ValueError(
            f"qa vectors are not uniformly {_PCA_DIM}-dim: "
            f"{flat.shape[0]} values over {n} rows"
        )
    return flat.reshape(n, _PCA_DIM).astype(np.int64, copy=False)


def _gram_rows_arrays(q) -> tuple:
    """Partial-moment rows for one int64 matrix ``q``: the upper
    triangle of QᵀQ as (i, j, p), the column sums as (i, -1, s_i), and
    the row count as (-1, -1, n). Exactness: |qa| ≤ 1e4 (DECIMAL(18,8)
    quantization of |x| ≤ 1 floats, downscaled by _PCA_DOWN), so each
    product ≤ 1e8 and a ≤ 10k-row Arrow batch keeps every partial sum
    ≤ 1e12 — exact in int64; the global fold stays in Spark's int64
    SUM with the documented N ≈ 1e11 headroom."""
    import numpy as np

    d = _PCA_DIM
    iu0, iu1 = np.triu_indices(d)
    g = q.T @ q
    s = q.sum(axis=0, dtype=np.int64)
    i_arr = np.concatenate([iu0, np.arange(d), [-1]]).astype(np.int32)
    j_arr = np.concatenate([iu1, np.full(d, -1), [-1]]).astype(np.int32)
    p_arr = np.concatenate([g[iu0, iu1], s, [q.shape[0]]]).astype(np.int64)
    return i_arr, j_arr, p_arr


def _gram_partial_batches(it):
    """mapInArrow kernel (guide §4.2): per Arrow batch, compute the
    exact integer partial Gram, column sums and count with one NumPy
    int64 matmul instead of exploding d(d+1)/2 = 2080 struct rows per
    vector through interpreted higher-order functions. The downstream
    groupBy("i","j") folds O(d²·batches) partial rows — never O(N·d²)."""
    import pyarrow as pa

    for batch in it:
        if batch.num_rows == 0:
            continue
        i_arr, j_arr, p_arr = _gram_rows_arrays(_qa_matrix(batch))
        yield pa.RecordBatch.from_arrays(
            [pa.array(i_arr), pa.array(j_arr), pa.array(p_arr)],
            ["i", "j", "p"],
        )


def _gram_partial_batches_tagged(it):
    """The tagged variant for per-slice moment passes (drift gate): one
    partial-moment row block per distinct ``slice`` value per batch."""
    import numpy as np
    import pyarrow as pa

    for batch in it:
        if batch.num_rows == 0:
            continue
        tags = np.asarray(
            batch.column(batch.schema.get_field_index("slice")).to_pylist(),
            dtype=object,
        )
        q = _qa_matrix(batch)
        t_out: list = []
        i_out: list = []
        j_out: list = []
        p_out: list = []
        for t in np.unique(tags):
            i_arr, j_arr, p_arr = _gram_rows_arrays(q[tags == t])
            t_out.append(np.full(i_arr.shape[0], t, dtype=object))
            i_out.append(i_arr)
            j_out.append(j_arr)
            p_out.append(p_arr)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.concatenate(t_out), pa.string()),
                pa.array(np.concatenate(i_out)),
                pa.array(np.concatenate(j_out)),
                pa.array(np.concatenate(p_out)),
            ],
            ["slice", "i", "j", "p"],
        )


def _moment_rows_df(sv: DataFrame) -> DataFrame:
    """Distributed (i, j, m) sufficient-statistic rows — upper-triangle
    Gram at (i, j), column sums at (i, -1), count at (-1, -1) — from a
    (qa)-schema frame: the Arrow kernel per batch, then one tiny
    (i, j) fold. Shared by the collecting solvers, the persisted
    base-moment index and the streaming moment publisher (they all
    speak this row encoding already)."""
    return (
        sv.mapInArrow(_gram_partial_batches, "i int, j int, p long")
        .groupBy("i", "j")
        .agg(F.sum("p").cast("long").alias("m"))
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            "m",
        )
    )


def _moments_assemble(rows: list) -> tuple[list[list[int]], list[int], int]:
    d = _PCA_DIM
    gram = [[0] * d for _ in range(d)]
    s = [0] * d
    n_vec = 0
    for r in rows:
        if r["i"] == -1:
            n_vec = r["m"]
        elif r["j"] == -1:
            s[r["i"]] = r["m"]
        else:
            gram[r["i"]][r["j"]] = r["m"]
            gram[r["j"]][r["i"]] = r["m"]
    return gram, s, n_vec


def _pca_moments(
    spark: SparkSession, sf_dir: str, cond=None
) -> tuple[list[list[int]], list[int], int]:
    """The distributed pass: exact integer second-moment matrix G,
    column sums s and count over the (optionally ``cond``-filtered)
    vector population — ONE scan (previously two: a 2080-struct-per-row
    explode for G plus a posexplode for s/n), with the per-row outer
    products computed as a per-batch NumPy int64 QᵀQ inside
    ``mapInArrow`` (guide §4.2). The exchange carries O(d²·batches)
    partial rows, never O(N). Returns (gram d×d, s, n) as pure-Python
    ints — bit-identical to the old path (integer arithmetic end to
    end; only the fold tree changed, and integer addition is
    associative)."""
    sv = load_table(spark, sf_dir, "embeddings")
    if cond is not None:
        sv = sv.filter(cond)
    sv = sv.select(_pca_qa_col().alias("qa"))
    return _moments_assemble(_moment_rows_df(sv).collect())


#: Axis-alignment flag threshold for the outlier/alignment scorer, in
#: ppm of squared cosine against the top principal component. A
#: direction-free corpus concentrates cos² around 1/d ≈ 15625 ppm
#: (d = 64); measured spread on this corpus is ~200–80000 ppm, so
#: 40000 (2.56× the isotropic expectation) flags the aligned tail
#: without rubber-stamping either side.
_PCA_ALIGN_PPM = 40_000


def _pca_outlier_oracle() -> str:
    """The PCA oracle embedded VERBATIM as a CTE (the decontaminate_
    semantic pattern — composed rungs can never drift), then one
    scan scoring every vector against the solved component in exact
    HUGEINT arithmetic."""
    fd = _fd
    return f"""
    WITH pca AS MATERIALIZED ({_pca_sql()}),
    lv AS MATERIALIZED (
      SELECT list(loading_q ORDER BY pos) AS lq,
             CAST(list_sum(list_transform(list(loading_q), x ->
               CAST(x AS HUGEINT) * x)) AS HUGEINT) AS v2
      FROM pca
    ),
    sq AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> {fd('CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,8)) '
                        f'* 100000000 AS BIGINT)', str(_PCA_DOWN))}) AS qa
      FROM embeddings
    ),
    scored AS (
      SELECT s.vec_id,
             CAST(list_sum(list_transform(generate_series(1, len(s.qa)),
               i -> s.qa[i] * lv.lq[i])) AS BIGINT) AS proj_q,
             CAST(list_sum(list_transform(s.qa, x -> x * x)) AS BIGINT)
               AS x2,
             lv.v2 AS v2
      FROM sq s, lv
    )
    SELECT vec_id, proj_q,
           CAST({fd('1000000 * CAST(proj_q AS HUGEINT) * proj_q',
                    'GREATEST(CAST(x2 AS HUGEINT) * v2, 1)')} AS BIGINT)
             AS cos2_ppm,
           CAST({fd('1000000 * CAST(proj_q AS HUGEINT) * proj_q',
                    'GREATEST(CAST(x2 AS HUGEINT) * v2, 1)')} AS BIGINT)
             > {_PCA_ALIGN_PPM} AS axis_aligned
    FROM scored
    """


def _pca_component_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The solved top component as a PERSISTED parquet index (the IVF
    'build once, probe many' split): 64 rows of
    (pos, loading_q, eigenvalue_q, …). Deterministic function of the
    corpus, so every consumer — batch scorer, streaming replay —
    serves from the same artifact."""
    from weather_analysis_bigdata__spark.operators.index_store import (
        persisted_index,
    )

    return persisted_index(
        spark,
        sf_dir,
        "pca_top_component",
        lambda: embedding_pca_top_component(spark, sf_dir),
    )


def _prepare_pca_component(spark: SparkSession, sf_dir: str) -> None:
    """Bench prepare hook: the persisted component this scorer serves
    from (fn self-prepares regardless)."""
    _pca_component_index(spark, sf_dir)


def _pca_component_lv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted component folded to ONE broadcastable row:
    (lq = loadings ordered by pos, v2 = Σ loading² as DECIMAL(38,0))."""
    return (
        _pca_component_index(spark, sf_dir)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "loading_q"))
            ).alias("pl"),
        )
        .select(
            F.transform(F.col("pl"), lambda e: e["loading_q"]).alias("lq"),
        )
        .select(
            "lq",
            F.aggregate(
                F.transform(
                    F.col("lq"), lambda x: (x.cast("decimal(38,0)") * x)
                ),
                F.lit(0).cast("decimal(38,0)"),
                lambda acc, x: acc + x,
            ).alias("v2"),
        )
    )


def _pca_score_kernel(vec_df: DataFrame, lv: DataFrame) -> DataFrame:
    """The scoring kernel SHARED by the batch scorer and the streaming
    replay (stream ≡ batch is a property of one code path): rows of
    (vec_id, qa) × the 1-row broadcast component → exact integer
    cos²-ppm scores with the axis-aligned flag."""
    scored = vec_df.crossJoin(F.broadcast(lv)).select(
        "vec_id",
        F.aggregate(
            F.zip_with(F.col("qa"), F.col("lq"), lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("proj_q"),
        F.aggregate(
            F.transform(F.col("qa"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("x2"),
        "v2",
    )
    # proj² needs 128-bit headroom (proj ≤ ~2^40 squared) — DECIMAL(38,0)
    # in Spark mirrors the oracle's HUGEINT; `div` truncates and both
    # numerator and denominator are non-negative, so trunc == floor.
    cos2 = F.expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * CAST(proj_q AS DECIMAL(38,0))"
        " * CAST(proj_q AS DECIMAL(38,0))) div"
        " GREATEST(CAST(x2 AS DECIMAL(38,0)) * v2, CAST(1 AS DECIMAL(38,0)))"
        " AS LONG)"
    )
    return scored.select(
        "vec_id",
        "proj_q",
        cos2.alias("cos2_ppm"),
        (cos2 > F.lit(_PCA_ALIGN_PPM)).alias("axis_aligned"),
    )


@register(
    "embedding_pca_outlier_scores",
    oracle=_pca_outlier_oracle,
    doc="PCA-projection scoring — the curation use of the top "
    "component: every vector's squared cosine against the solved "
    "principal direction, in exact integer ppm (1e6·proj² div "
    "(‖x‖²·‖v‖²); floor division of identical integers on both "
    "engines, no float tolerance), with the axis-aligned tail flagged "
    f"at {_PCA_ALIGN_PPM} ppm ≈ 2.6× the isotropic 1/d expectation. "
    "Composition contract: the PCA oracle is embedded VERBATIM as a "
    "CTE (the decontaminate_semantic pattern), so scorer and solver "
    "can never drift. Plan shape: the component is a PERSISTED "
    "parquet index (operators/index_store.py — solve once, score "
    "many, the IVF serving split) folded to a 1-row broadcast; "
    "scoring is ONE map-only scan over the vectors, no shuffle at "
    "all — at 100 TB the cheapest possible full-corpus pass (the "
    "moment pass already paid the only aggregation).",
    prepare=_prepare_pca_component,
)
def embedding_pca_outlier_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    lv = _pca_component_lv(spark, sf_dir)
    sq = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _pca_qa_col().alias("qa")
    )
    return _pca_score_kernel(sq, lv)


def _pca_center_shift(
    gram: list[list[int]], s: list[int], n_vec: int
) -> tuple[list[list[int]], int]:
    """M = N·G − s·sᵀ, floor-shifted into the iteration range."""
    d = len(s)
    m = [[n_vec * gram[i][j] - s[i] * s[j] for j in range(d)] for i in range(d)]
    return _pca_shift(m)


def _pca_shift(m: list[list[int]]) -> tuple[list[list[int]], int]:
    d = len(m)
    ma = max(abs(m[i][j]) for i in range(d) for j in range(d))
    k = 0
    while ma >= (_PCA_GBOUND << k):
        k += 1
    p2 = 1 << k
    return [[m[i][j] // p2 for j in range(d)] for i in range(d)], k


def _pca_iterate(mq: list[list[int]]) -> list[int]:
    """Fixed-point power iteration at scale 2^20 — the pre-canonical
    iterate (sign applied separately, as the oracle does)."""
    d = len(mq)
    v = [_PCA_VSCALE] * d
    for _ in range(_PCA_ITERS):
        w = [sum(mq[i][j] * v[j] for j in range(d)) for i in range(d)]
        dd = max(1, max(abs(x) for x in w) // _PCA_VSCALE)
        v = [x // dd for x in w]
    return v


def _pca_canon(v: list[int]) -> list[int]:
    first = next((x for x in v if x != 0), 0)
    sg = -1 if first < 0 else 1
    return [sg * x for x in v]


def _pca_rayleigh(
    mq: list[list[int]], v: list[int]
) -> tuple[int, int]:
    """(num, den) of the Rayleigh quotient vᵀMv / vᵀv (den ≥ 1)."""
    d = len(v)
    u = [sum(mq[i][j] * v[j] for j in range(d)) for i in range(d)]
    num = sum(v[i] * u[i] for i in range(d))
    den = max(1, sum(x * x for x in v))
    return num, den


def _pca_power_solve(
    gram: list[list[int]], s: list[int], n_vec: int
) -> tuple[list[int], int, int, int]:
    """The O(d²) driver-side eigensolve on the exact integer moments:
    center (M = N·G − s·sᵀ), floor-shift to the iteration range,
    fixed-point power iteration, sign-canonicalize. Pure-Python ints
    end to end — bit-identical to the oracle's HUGEINT arithmetic.
    Returns (loadings, eigenvalue_q, var_explained_ppm, shift_bits)."""
    d = len(s)
    mq, k = _pca_center_shift(gram, s, n_vec)
    v = _pca_iterate(mq)
    num, den = _pca_rayleigh(mq, v)
    trq = max(1, sum(mq[i][i] for i in range(d)))
    lam_q = num // den
    var_ppm = (1_000_000 * num) // (den * trq)
    return _pca_canon(v), lam_q, var_ppm, k


# ---------------------------------------------------------------------------
# PCA direction drift: does an arriving slice share the corpus's top axis?
# ---------------------------------------------------------------------------
#: Drift gate on squared cosine between the corpus top component and a
#: slice's, in ppm. The corpus spectrum is nearly flat (top component
#: explains ~2.6%), so even a same-distribution resample's component
#: wanders — measured floors: resample slice ≥ 214102 ppm at every SF
#: (0.001/0.01/0.1: 214102/278494/478079), the label-shifted slice
#: ≤ 94840 (94008/72082/94840). 150000 sits between the bands with
#: ≥ 1.4× margin both ways at the worst SF.
_PCA_DRIFT_PPM = 150_000
#: The two probe slices: a same-distribution resample (must PASS — the
#: negative control) and a label-restricted subpopulation whose
#: dominant direction genuinely differs (must FLAG — the positive
#: control). SQL and Column forms kept adjacent so they cannot drift.
_PCA_SLICES = (
    ("resample", "vec_id % 3 = 0"),
    ("shifted", "label >= 8"),
)


def _pca_drift_oracle() -> str:
    slices = []
    for name, w in _PCA_SLICES:
        slices.append(
            f"""s_{name} AS MATERIALIZED (
      SELECT list(loading_q ORDER BY pos) AS v,
             MAX(n_vectors) AS n FROM ({_pca_sql(w)})
    )"""
        )
    rows = []
    for name, _w in _PCA_SLICES:
        num = (
            f"CAST(list_sum(list_transform(generate_series(1, {_PCA_DIM}), "
            f"i -> CAST(fl.v[i] AS HUGEINT) * s_{name}.v[i])) AS HUGEINT)"
        )
        den = (
            f"(CAST(list_sum(list_transform(fl.v, x -> CAST(x AS HUGEINT) * x)) AS HUGEINT)"
            f" * CAST(list_sum(list_transform(s_{name}.v, x -> CAST(x AS HUGEINT) * x)) AS HUGEINT))"
        )
        cos2 = _fd(f"1000000 * ({num}) * ({num})", f"GREATEST({den}, 1)")
        rows.append(
            f"""SELECT '{name}' AS slice, s_{name}.n AS n_vectors,
           CAST({cos2} AS BIGINT) AS cos2_ppm,
           CAST({cos2} AS BIGINT) < {_PCA_DRIFT_PPM} AS direction_drifted
    FROM fl, s_{name}"""
        )
    slices_sql = ",\n    ".join(slices)
    union = "\n    UNION ALL\n    ".join(rows)
    return f"""
    WITH fl AS MATERIALIZED (
      SELECT list(loading_q ORDER BY pos) AS v FROM ({_pca_sql()})
    ),
    {slices_sql}
    {union}
    """


@register(
    "embedding_pca_drift_direction",
    oracle=_pca_drift_oracle,
    doc="PCA direction-drift gate — the spectral sibling of "
    "corpus_drift_tv (which watches token SHARES, blind to geometry): "
    "solve the top principal component for the corpus AND for each "
    "arriving slice, compare squared cosine between the integer "
    "loading vectors in exact ppm, flag a slice whose dominant "
    f"direction strays below {_PCA_DRIFT_PPM} ppm. Controls built in: "
    "a same-distribution resample slice (vec_id %% 3, must pass — "
    "measured ≥ 214k ppm at every SF) and a label-restricted slice "
    "whose dominant direction genuinely differs (label ≥ 8, must "
    "flag — ≤ 95k ppm). The corpus spectrum is nearly flat (top "
    "component ~2.6%% of variance), so the gate is calibrated to the "
    "MEASURED same-distribution band, not to an assumed ≈1e6 "
    "stability — that honesty is the point of shipping the controls "
    "in the query. Plan: the corpus baseline comes from the PERSISTED "
    "component index (it IS the corpus solve — drift monitoring "
    "compares arrivals against yesterday's published component, not a "
    "re-solve); ONE pass computes the two slice moment sets — each "
    "row explodes its d(d+1)/2 products once per slice-membership "
    "tag, map-side partial aggregation keyed (slice, i, j) — then two "
    "O(d²) driver eigensolves and pure-integer comparison; at 100 TB "
    "the pass costs the solo moment pass times mean tag multiplicity "
    "(< 1 here: slices are subsets), and nothing else scales with N.",
    prepare=_prepare_pca_component,
)
def embedding_pca_drift_direction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tags = F.array_compact(
        F.array(
            F.when(F.col("vec_id") % 3 == 0, F.lit("resample")),
            F.when(F.col("label") >= 8, F.lit("shifted")),
        )
    )
    sv = load_table(spark, sf_dir, "embeddings").select(
        F.explode(tags).alias("slice"), _pca_qa_col().alias("qa")
    )
    # ONE Arrow pass computes both slices' Gram + column sums + count
    # (previously two explode-heavy collects); see _gram_partial_batches.
    rows = (
        sv.mapInArrow(
            _gram_partial_batches_tagged, "slice string, i int, j int, p long"
        )
        .groupBy("slice", "i", "j")
        .agg(F.sum("p").alias("m"))
        .collect()
    )

    d = _PCA_DIM
    moments: dict = {}
    for r in rows:
        m = moments.setdefault(
            r["slice"], {"g": [[0] * d for _ in range(d)], "s": [0] * d, "n": 0}
        )
        if r["i"] == -1:
            m["n"] = r["m"]
        elif r["j"] == -1:
            m["s"][r["i"]] = r["m"]
        else:
            m["g"][r["i"]][r["j"]] = r["m"]
            m["g"][r["j"]][r["i"]] = r["m"]

    missing = [name for name, _w in _PCA_SLICES if name not in moments]
    if missing:
        raise ValueError(
            f"drift probe slices produced no vectors: {missing} — the "
            "corpus no longer populates these memberships; regenerate "
            "the slice predicates before trusting the gate"
        )
    solved = {
        k: _pca_power_solve(m["g"], m["s"], m["n"])[0]
        for k, m in moments.items()
    }
    comp = {
        r["pos"]: r["loading_q"]
        for r in _pca_component_index(spark, sf_dir).collect()
    }
    fl = [comp[i] for i in range(d)]
    out = []
    for name, _w in _PCA_SLICES:
        v = solved[name]
        num = sum(a * b for a, b in zip(fl, v))
        den = max(1, sum(a * a for a in fl) * sum(b * b for b in v))
        cos2 = (1_000_000 * num * num) // den
        out.append((name, moments[name]["n"], cos2, cos2 < _PCA_DRIFT_PPM))
    schema = T.StructType(
        [
            T.StructField("slice", T.StringType()),
            T.StructField("n_vectors", T.LongType()),
            T.StructField("cos2_ppm", T.LongType()),
            T.StructField("direction_drifted", T.BooleanType()),
        ]
    )
    return spark.createDataFrame(out, schema)


# ---------------------------------------------------------------------------
# Streaming twin: PCA scoring at ingest
# ---------------------------------------------------------------------------
def _pca_replay_oracle() -> str:
    """The batch scorer's oracle VERBATIM: per-row scoring against a
    fixed component commutes with micro-batching, and the hash match
    proves it."""
    from weather_analysis_bigdata__spark.registry import all_queries

    return all_queries()["embedding_pca_outlier_scores"].oracle_text()


@register(
    "streaming_embedding_pca_score_replay",
    oracle=_pca_replay_oracle,
    doc="PCA-projection scoring AT INGEST — the streaming twin of "
    "embedding_pca_outlier_scores (every quality/dedup/drift gate in "
    "this repo ships one; this is the embedding-geometry gate's): the "
    "vector corpus replays as 3 deterministic mtime-ordered arrival "
    "slices (vec_id % 3), each micro-batch scored by the SHARED "
    "_pca_score_kernel against the SAME persisted component index the "
    "batch scorer serves from, published as batch_id-keyed idempotent "
    "parquet segments. Registered oracle = the batch scorer's SQL "
    "VERBATIM — per-row scoring against a fixed component commutes "
    "with micro-batching, so the value hash proves stream ≡ batch. "
    "At 100 TB this is how the gate actually deploys: the component "
    "is solved nightly from the corpus moment pass; arriving vectors "
    "are scored in-flight by a broadcast of 64 longs.",
    prepare=_prepare_pca_component,
)
def streaming_embedding_pca_score_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sq = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _pca_qa_col().alias("qa")
    )
    lv = _pca_component_lv(spark, sf_dir)
    return replay_segments(
        spark,
        [sq.filter((F.col("vec_id") % 3).cast("int") == i) for i in range(3)],
        lambda bdf, _: _pca_score_kernel(bdf, lv),
        "pcascore",
    ).select("vec_id", "proj_q", "cos2_ppm", "axis_aligned")


# ---------------------------------------------------------------------------
# Top-2 components by exact integer deflation
# ---------------------------------------------------------------------------
#: Deflation re-quantizes the solved v1 from scale 2^20 down to 2^10
#: before forming M₂ = a²·M − r·(v vᵀ) with a = vᵀv, r = vᵀMv — at
#: 2^10 the deflated entries stay ≤ ~2^86, comfortably inside HUGEINT
#: (at the full 2^20 scale they would graze the 2^127 ceiling).
_PCA_DEFLATE_DOWN = 1 << 10


def _pca_solve_top2(
    gram: list[list[int]], s: list[int], n_vec: int
) -> list[tuple[int, list[int], int, int, int]]:
    """Top-2 eigensolve by exact integer deflation. For any w ⊥ v:
    M₂w = a²·Mw (spectrum scaled, order preserved), while M₂v ≈ 0 —
    so the second power iteration converges to the runner-up
    direction. Every step floors identically in Python and HUGEINT.
    Returns [(component, loadings, eigenvalue_q, var_ppm, ortho_ppm)]
    with eigenvalues both measured against the SAME shifted M (so
    they are comparable) and ortho_ppm = cos²(v₁, v₂) in ppm (the
    orthogonality self-audit; ~0 when deflation worked)."""
    d = len(s)
    mq, _k1 = _pca_center_shift(gram, s, n_vec)
    trq = max(1, sum(mq[i][i] for i in range(d)))

    v1 = _pca_canon(_pca_iterate(mq))
    num1, den1 = _pca_rayleigh(mq, v1)

    vq = [x // _PCA_DEFLATE_DOWN for x in v1]
    a = sum(x * x for x in vq)
    u = [sum(mq[i][j] * vq[j] for j in range(d)) for i in range(d)]
    r = sum(vq[i] * u[i] for i in range(d))
    m2 = [
        [a * a * mq[i][j] - r * vq[i] * vq[j] for j in range(d)]
        for i in range(d)
    ]
    mq2, _k2 = _pca_shift(m2)
    v2 = _pca_canon(_pca_iterate(mq2))
    num2, den2 = _pca_rayleigh(mq, v2)

    dot12 = sum(x * y for x, y in zip(v1, v2))
    ortho = (1_000_000 * dot12 * dot12) // (
        max(1, sum(x * x for x in v1)) * max(1, sum(x * x for x in v2))
    )
    return [
        (
            1,
            v1,
            num1 // den1,
            (1_000_000 * num1) // (den1 * trq),
            0,
        ),
        (
            2,
            v2,
            num2 // den2,
            (1_000_000 * num2) // (den2 * trq),
            ortho,
        ),
    ]


def _pca2_sql() -> str:
    """Two chained power iterations in one WITH block: the shared base
    CTEs solve component 1, exact-integer deflation (M₂ = a²M − r vvᵀ
    over the 2^10-requantized v₁) feeds the second chain, both
    Rayleigh quotients measured against the SAME shifted M."""
    d = _PCA_DIM
    v = _PCA_VSCALE
    its1, last1 = _pca_iter_ctes("mq", "")
    its2, last2 = _pca_iter_ctes("mq2", "b")
    pows2 = _pca_pows(63)
    return f"""
    WITH {_pca_base_ctes()},
    {its1},
    sg AS MATERIALIZED (
      SELECT CASE WHEN COALESCE((SELECT v FROM {last1} WHERE v <> 0
                                 ORDER BY pos LIMIT 1), 0) < 0
                  THEN -1 ELSE 1 END AS sg
    ),
    v1c AS MATERIALIZED (
      SELECT fv.pos, CAST(sg.sg * fv.v AS BIGINT) AS v FROM {last1} fv, sg
    ),
    u1 AS MATERIALIZED (
      SELECT mq.i AS pos, CAST(SUM(mq.m * v1c.v) AS BIGINT) AS u
      FROM mq JOIN v1c ON mq.j = v1c.pos GROUP BY mq.i
    ),
    ray1 AS MATERIALIZED (
      SELECT CAST(SUM(CAST(v1c.v AS HUGEINT) * u1.u) AS HUGEINT) AS num,
             GREATEST(CAST(SUM(CAST(v1c.v AS HUGEINT) * v1c.v) AS HUGEINT),
                      CAST(1 AS HUGEINT)) AS den
      FROM v1c JOIN u1 USING (pos)
    ),
    tr AS MATERIALIZED (
      SELECT GREATEST(CAST(SUM(m) AS HUGEINT), CAST(1 AS HUGEINT)) AS trq
      FROM mq WHERE i = j
    ),
    vq AS MATERIALIZED (
      SELECT pos, CAST({_fd('v', str(_PCA_DEFLATE_DOWN))} AS BIGINT) AS v
      FROM v1c
    ),
    aa AS MATERIALIZED (
      SELECT CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS a FROM vq
    ),
    uq AS MATERIALIZED (
      SELECT mq.i AS pos, CAST(SUM(mq.m * vq.v) AS BIGINT) AS u
      FROM mq JOIN vq ON mq.j = vq.pos GROUP BY mq.i
    ),
    rr AS MATERIALIZED (
      SELECT CAST(SUM(CAST(vq.v AS HUGEINT) * uq.u) AS HUGEINT) AS r
      FROM vq JOIN uq USING (pos)
    ),
    m2 AS MATERIALIZED (
      SELECT mq.i, mq.j,
             aa.a * aa.a * CAST(mq.m AS HUGEINT)
               - rr.r * (CAST(va.v AS HUGEINT) * vb.v) AS m
      FROM mq, aa, rr, vq va, vq vb
      WHERE va.pos = mq.i AND vb.pos = mq.j
    ),
    mx2 AS MATERIALIZED (SELECT MAX(ABS(m)) AS ma FROM m2),
    sh2 AS MATERIALIZED (
      SELECT MIN(p.k) AS k, MIN_BY(p.p2, p.k) AS p2
      FROM (VALUES {pows2}) p(k, p2), mx2
      WHERE mx2.ma < CAST(p.p2 AS HUGEINT) * {_PCA_GBOUND}
    ),
    mq2 AS MATERIALIZED (
      SELECT i, j, CAST({_fd('m', 'sh2.p2')} AS BIGINT) AS m FROM m2, sh2
    ),
    itb0 AS MATERIALIZED (
      SELECT CAST(t.k AS INT) AS pos, CAST({v} AS BIGINT) AS v
      FROM range(0, {d}) t(k)
    ),
    {its2},
    sgb AS MATERIALIZED (
      SELECT CASE WHEN COALESCE((SELECT v FROM {last2} WHERE v <> 0
                                 ORDER BY pos LIMIT 1), 0) < 0
                  THEN -1 ELSE 1 END AS sg
    ),
    v2c AS MATERIALIZED (
      SELECT fv.pos, CAST(sgb.sg * fv.v AS BIGINT) AS v FROM {last2} fv, sgb
    ),
    u2 AS MATERIALIZED (
      SELECT mq.i AS pos, CAST(SUM(mq.m * v2c.v) AS BIGINT) AS u
      FROM mq JOIN v2c ON mq.j = v2c.pos GROUP BY mq.i
    ),
    ray2 AS MATERIALIZED (
      SELECT CAST(SUM(CAST(v2c.v AS HUGEINT) * u2.u) AS HUGEINT) AS num,
             GREATEST(CAST(SUM(CAST(v2c.v AS HUGEINT) * v2c.v) AS HUGEINT),
                      CAST(1 AS HUGEINT)) AS den
      FROM v2c JOIN u2 USING (pos)
    ),
    orth AS MATERIALIZED (
      SELECT CAST({_fd(
          '1000000 * nab * nab',
          'GREATEST(d1, 1) * GREATEST(d2, 1)')} AS BIGINT) AS ppm
      FROM (
        SELECT CAST(SUM(CAST(a.v AS HUGEINT) * b.v) AS HUGEINT) AS nab,
               CAST(SUM(CAST(a.v AS HUGEINT) * a.v) AS HUGEINT) AS d1,
               CAST(SUM(CAST(b.v AS HUGEINT) * b.v) AS HUGEINT) AS d2
        FROM v1c a JOIN v2c b USING (pos)
      )
    )
    SELECT CAST(1 AS BIGINT) AS component, CAST(v1c.pos AS BIGINT) AS pos,
           v1c.v AS loading_q,
           CAST({_fd('ray1.num', 'ray1.den')} AS BIGINT) AS eigenvalue_q,
           CAST({_fd('1000000 * ray1.num', 'ray1.den * tr.trq')} AS BIGINT)
             AS var_explained_ppm,
           CAST(0 AS BIGINT) AS ortho_to_prev_ppm
    FROM v1c, ray1, tr
    UNION ALL
    SELECT CAST(2 AS BIGINT) AS component, CAST(v2c.pos AS BIGINT) AS pos,
           v2c.v AS loading_q,
           CAST({_fd('ray2.num', 'ray2.den')} AS BIGINT) AS eigenvalue_q,
           CAST({_fd('1000000 * ray2.num', 'ray2.den * tr.trq')} AS BIGINT)
             AS var_explained_ppm,
           orth.ppm AS ortho_to_prev_ppm
    FROM v2c, ray2, tr, orth
    """


@register(
    "embedding_pca_top2_components",
    oracle=_pca2_sql,
    doc="Top-2 principal components by EXACT INTEGER DEFLATION — the "
    "spectral family's completion (solve → score → drift → top-k): "
    "after the first power iteration, M₂ = a²·M − r·(v₁v₁ᵀ) with "
    "a = v₁ᵀv₁, r = v₁ᵀMv₁ over the 2^10-requantized v₁ keeps every "
    "entry inside HUGEINT while preserving the orthogonal spectrum's "
    "order (for w ⊥ v₁: M₂w = a²·Mw), so the second iteration "
    "converges to the runner-up direction. Both Rayleigh quotients "
    "are measured against the SAME shifted M — the eigenvalues and "
    "variance-explained ppm are directly comparable — and "
    "ortho_to_prev_ppm = cos²(v₁, v₂) ships as the orthogonality "
    "self-audit every deflation needs (near-0 = the deflation "
    "actually removed v₁). The distributed part is unchanged: ONE "
    "moment pass; both eigensolves are bounded O(d²) driver state. "
    "Bit-identical Python-int vs HUGEINT arithmetic end to end — an "
    "exact-value-hash two-component PCA.",
)
def embedding_pca_top2_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    gram, s, n_vec = _pca_moments(spark, sf_dir)
    comps = _pca_solve_top2(gram, s, n_vec)
    schema = T.StructType(
        [
            T.StructField("component", T.LongType()),
            T.StructField("pos", T.LongType()),
            T.StructField("loading_q", T.LongType()),
            T.StructField("eigenvalue_q", T.LongType()),
            T.StructField("var_explained_ppm", T.LongType()),
            T.StructField("ortho_to_prev_ppm", T.LongType()),
        ]
    )
    rows = [
        (c, pos, loadings[pos], lam, var, ortho)
        for (c, loadings, lam, var, ortho) in comps
        for pos in range(_PCA_DIM)
    ]
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# As-of join, NEAREST direction (pandas merge_asof direction='nearest')
# ---------------------------------------------------------------------------
@register(
    "asof_join_nearest",
    oracle="""
    WITH merged AS (
      SELECT o_custkey AS user_id, CAST(o_orderdate AS TIMESTAMP) AS ts,
             0 AS kind, o_orderkey AS sort_id,
             o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_ts,
             NULL::BIGINT AS event_id
      FROM orders
      UNION ALL
      SELECT user_id, ts, 1 AS kind, event_id AS sort_id,
             NULL::BIGINT AS o_orderkey, NULL::TIMESTAMP AS o_ts, event_id
      FROM events
    ),
    filled AS (
      SELECT *,
             last_value(o_orderkey IGNORE NULLS) OVER wprev AS pk,
             last_value(o_ts IGNORE NULLS) OVER wprev AS pts,
             first_value(o_orderkey IGNORE NULLS) OVER wnext AS nk,
             first_value(o_ts IGNORE NULLS) OVER wnext AS nts
      FROM merged
      WINDOW wprev AS (PARTITION BY user_id ORDER BY ts, kind, sort_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wnext AS (PARTITION BY user_id ORDER BY ts, kind, sort_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ),
    dist AS (
      SELECT event_id, user_id, ts AS event_ts, pk, nk,
             epoch_us(ts) - epoch_us(pts) AS pd,
             epoch_us(nts) - epoch_us(ts) AS nd
      FROM filled WHERE kind = 1
    )
    SELECT event_id, user_id, event_ts,
           CASE WHEN pk IS NULL AND nk IS NULL THEN NULL
                WHEN nk IS NULL OR (pk IS NOT NULL AND pd <= nd) THEN pk
                ELSE nk END AS nearest_orderkey,
           CASE WHEN pk IS NULL AND nk IS NULL THEN 'none'
                WHEN nk IS NULL OR (pk IS NOT NULL AND pd <= nd)
                  THEN 'backward'
                ELSE 'forward' END AS direction,
           CASE WHEN pk IS NULL AND nk IS NULL THEN NULL
                WHEN nk IS NULL OR (pk IS NOT NULL AND pd <= nd) THEN pd
                ELSE nd END AS dist_us
    FROM dist
    """,
    doc="As-of join, NEAREST direction — completing the as-of family "
    "(asof_join_event_order = backward, asof_join_forward_tolerance = "
    "forward+tolerance; pandas merge_asof ships all three directions "
    "and 'nearest' is the default ask for sensor/trade alignment): "
    "each event picks the user's temporally closest order in EITHER "
    "direction, ties to backward (an at-or-before order at equal "
    "distance wins, so a same-instant order always matches at "
    "dist 0). Same scalable union-merge shape as the backward form — "
    "tag both sides, ONE shuffle on user_id — but with TWO window "
    "passes: forward-fill (last ignore-nulls, preceding frame) "
    "carries the latest at-or-before order + its timestamp, and the "
    "earliest-after fill rides the fully REVERSED sort with the same "
    "incremental preceding frame (Spark evaluates CURRENT ROW → "
    "UNBOUNDED FOLLOWING in O(partition²) — the round-9 skew-probe "
    "finding, fatal under a hot user); the nearest pick is then a "
    "row-local integer comparison of microsecond distances. No row "
    "amplification, no inequality join; users with no orders surface "
    "direction='none'. Within an equal-timestamp run the backward "
    "candidate is the largest orderkey at that instant and the "
    "forward candidate the smallest following — the (ts, kind, id) "
    "tie-break convention the family shares.",
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
        F.lit(0).alias("kind"),
        F.col("o_orderkey").alias("sort_id"),
        F.col("o_orderkey"),
        F.col("o_orderdate").cast("timestamp").alias("o_ts"),
        F.lit(None).cast("bigint").alias("event_id"),
    )
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.col("event_id").alias("sort_id"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("timestamp").alias("o_ts"),
        "event_id",
    )
    merged = o.unionByName(e)
    base = Window.partitionBy("user_id").orderBy("ts", "kind", "sort_id")
    wprev = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # The forward pass rides the fully REVERSED order with the same
    # incremental backward frame: first_value over CURRENT ROW →
    # UNBOUNDED FOLLOWING is O(p²) in Spark (the executor re-scans to
    # the partition end per row — the round-9 skew-probe finding), and
    # a hot user's partition grows linearly at 100 TB.
    wnext = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").desc(), F.col("kind").desc(), F.col("sort_id").desc()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = merged.select(
        "*",
        F.last("o_orderkey", ignorenulls=True).over(wprev).alias("pk"),
        F.last("o_ts", ignorenulls=True).over(wprev).alias("pts"),
        F.last("o_orderkey", ignorenulls=True).over(wnext).alias("nk"),
        F.last("o_ts", ignorenulls=True).over(wnext).alias("nts"),
    )
    dist = filled.filter(F.col("kind") == 1).select(
        "event_id",
        "user_id",
        F.col("ts").alias("event_ts"),
        "pk",
        "nk",
        (F.unix_micros("ts") - F.unix_micros("pts")).alias("pd"),
        (F.unix_micros("nts") - F.unix_micros("ts")).alias("nd"),
    )
    both_null = F.col("pk").isNull() & F.col("nk").isNull()
    pick_back = F.col("nk").isNull() | (
        F.col("pk").isNotNull() & (F.col("pd") <= F.col("nd"))
    )
    return dist.select(
        "event_id",
        "user_id",
        "event_ts",
        F.when(both_null, F.lit(None).cast("bigint"))
        .when(pick_back, F.col("pk"))
        .otherwise(F.col("nk"))
        .alias("nearest_orderkey"),
        F.when(both_null, "none")
        .when(pick_back, "backward")
        .otherwise("forward")
        .alias("direction"),
        F.when(both_null, F.lit(None).cast("bigint"))
        .when(pick_back, F.col("pd"))
        .otherwise(F.col("nd"))
        .alias("dist_us"),
    )
