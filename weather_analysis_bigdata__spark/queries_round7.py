"""Round-7 batch: maximal-span exact substring dedup, the unigram-LM
tokenizer, the classifier operating-point sweep, and drift-gated
admission.

- **Maximal duplicated spans** (Lee et al. 2022, "Deduplicating
  Training Data Makes Language Models Better" — the ExactSubstr full
  form): `dedup_shared_ngram_spans` detects duplication at fixed 8-gram
  granularity; the production pass merges ADJACENT shared grams into
  maximal duplicated substrings with a minimum token length (the paper
  removes ≥50-BPE-token spans), so removal happens at span, not gram,
  granularity. Spark-first shape: the gram postings self-join is the
  dotplot, and a maximal shared substring between two documents is a
  maximal RUN along one diagonal (pos_b - pos_a constant, pos_a
  consecutive) — a gaps-and-islands window per (pair, diagonal), never
  a per-token alignment.

- **Unigram-LM tokenizer** (Kudo 2018; the SentencePiece default):
  operators/unigram.py trains by EM over the candidate-piece lattice
  (Viterbi E-step as integer DP, driver-quantized prune M-step) and
  tokenizes by the same DP; the trained vocabulary persists as an
  index (operators/index_store.py). Exact-equality-gated against the
  independent pure-Python operators/unigram_reference.py, which also
  generates the lazy literal-VALUES oracles (the BPE pattern).

Reference parity note: the reference (Weather_API.py) has no substring
dedup at all — this is charter-extension breadth on the `documents`
table, same as the rest of the dedup ladder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from weather_analysis_bigdata__spark.functions.textops import (
    SQL_TOKENS,
    hex15_to_long,
    md5s,
    sql_hex15_to_long,
    tokens,
    word_ngrams,
)
from weather_analysis_bigdata__spark.registry import register
from weather_analysis_bigdata__spark.session import pin
from weather_analysis_bigdata__spark.sources.files import (
    load_table,
    spread_small_scan,
)
from weather_analysis_bigdata__spark.streaming.replay import replay_segments

# ---------------------------------------------------------------------------
# Maximal-span exact substring dedup
# ---------------------------------------------------------------------------
#: Gram width in tokens — same 8-gram shingles as dedup_shared_ngram_spans.
_SPAN_N = 8
#: Minimum duplicated-span length in tokens to report/remove. Lee et
#: al. use 50 BPE tokens on web text; this corpus is short whitespace-
#: token documents (avg ~54 tokens), so 20 keeps the yardstick
#: non-vacuous while still well above the gram width.
_SPAN_MIN_TOKENS = 20
#: Occurrence cap per gram before the postings self-join: a gram with
#: > cap total occurrences is dropped from pairing (stopword-gram
#: guard). Bounds the dotplot at N·cap points under ANY skew — the same
#: trade dedup_jaccard_dfcapped makes, mirrored verbatim in the oracle.
_SPAN_OCC_CAP = 16

_SQL_GRAM_CAT = " || ' ' || ".join(f"toks[i+{j}]" for j in range(_SPAN_N))

_SQL_SPAN_BASE = f"""t AS (
      SELECT doc_id, {SQL_TOKENS.format(c='text')} AS toks FROM documents
    ),
    p AS (
      SELECT doc_id, i AS pos, {_SQL_GRAM_CAT} AS gram
      FROM t, unnest(generate_series(1, len(toks) - {_SPAN_N - 1})) AS u(i)
    ),
    capped AS (
      SELECT gram FROM p GROUP BY gram
      HAVING COUNT(*) BETWEEN 2 AND {_SPAN_OCC_CAP}
    ),
    pc AS (SELECT p.* FROM p JOIN capped USING (gram)),
    pairs AS (
      SELECT a.doc_id AS da, a.pos AS pa, b.doc_id AS db,
             b.pos - a.pos AS diag
      FROM pc a JOIN pc b USING (gram) WHERE a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT da, db, diag, pa,
             pa - row_number() OVER (
               PARTITION BY da, db, diag ORDER BY pa) AS isl
      FROM pairs
    ),
    spans AS (
      SELECT da, db, diag, MIN(pa) AS a_start,
             CAST(MAX(pa) - MIN(pa) + {_SPAN_N} AS BIGINT) AS span_tokens
      FROM isl GROUP BY da, db, diag, isl
      HAVING MAX(pa) - MIN(pa) + {_SPAN_N} >= {_SPAN_MIN_TOKENS}
    )"""


def _span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _span_pairs_from(
        spread_small_scan(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        )
    )


def _span_postings(d: DataFrame) -> DataFrame:
    """Gram postings (doc_id, pos, gh) — positions 1-based, grams
    carried as 60-bit hashes (never strings) past the explode."""
    return d.select(
        "doc_id",
        F.posexplode(word_ngrams(tokens("text"), _SPAN_N)).alias(
            "pos0", "gram"
        ),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),  # 1-based, mirrors the oracle
        hex15_to_long(md5s(F.col("gram"))).alias("gh"),
    )


def _span_pairs_from(
    d: DataFrame,
    occ_cap: int = _SPAN_OCC_CAP,
    postings: DataFrame | None = None,
    occ: DataFrame | None = None,
) -> DataFrame:
    """Maximal duplicated spans per (doc_a, doc_b) pair: the dotplot
    diagonal-run merge. Distributed shape: postings shuffle once on the
    60-bit gram hash (never the gram string); the run-merge window
    partitions by (pair, diagonal) — thousands of small partitions, no
    global order. Factored on a (doc_id, text) DataFrame so the planted
    positive controls (tests/test_round7_ops.py) drive the REAL kernel;
    ``occ_cap`` parameterized so dedup_span_cap_audit can run the SAME
    kernel at the production cap and at its audit yardstick.

    The postings table is referenced THREE times in one plan (the occ
    aggregate + both sides of the gram self-join) and nothing reuses
    across those references (round-12 captured plan: 22 parquet scans /
    24 posexplode Generates in the two-cap audit, 0 ReusedExchange) —
    so the explode+md5 pass is PINNED once per call (guide §1.2: don't
    compute things twice; the md5 work itself stays in JVM codegen, the
    round-11 measured winner). ``postings``/``occ`` let the cap audit
    share one pinned pass across BOTH cap levels."""
    from weather_analysis_bigdata__spark.session import pin

    p = postings if postings is not None else _span_postings(d).transform(pin)
    # Pair only grams occurring 2..cap times corpus-wide: singletons
    # can't form a duplicated span; hot grams are capped (skew guard).
    if occ is None:
        occ = p.groupBy("gh").agg(F.count(F.lit(1)).alias("occ"))
    keep = occ.filter((F.col("occ") >= 2) & (F.col("occ") <= occ_cap))
    pc = p.join(keep.select("gh"), "gh")
    a, b = pc.alias("a"), pc.alias("b")
    pairs = a.join(
        b,
        (F.col("a.gh") == F.col("b.gh"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("da"),
        F.col("a.pos").alias("pa"),
        F.col("b.doc_id").alias("db"),
        (F.col("b.pos") - F.col("a.pos")).alias("diag"),
    )
    w = Window.partitionBy("da", "db", "diag").orderBy("pa")
    isl = pairs.withColumn("isl", F.col("pa") - F.row_number().over(w))
    return (
        isl.groupBy("da", "db", "diag", "isl")
        .agg(
            F.min("pa").alias("a_start"),
            (F.max("pa") - F.min("pa") + _SPAN_N)
            .cast("long")
            .alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= _SPAN_MIN_TOKENS)
    )


@register(
    "dedup_span_maximal_pairs",
    oracle=f"""
    WITH {_SQL_SPAN_BASE}
    SELECT da AS doc_id_a, db AS doc_id_b,
           CAST(a_start AS BIGINT) AS a_start,
           CAST(a_start + diag AS BIGINT) AS b_start,
           span_tokens
    FROM spans
    """,
    doc="MAXIMAL duplicated spans — the Lee et al. 2022 ExactSubstr "
    "full form that dedup_shared_ngram_spans is the screen for: "
    f"adjacent shared {_SPAN_N}-grams between a document pair merge "
    "into maximal exactly-duplicated substrings, reported with both "
    f"docs' token extents; only spans ≥ {_SPAN_MIN_TOKENS} tokens "
    "survive (removal at span granularity, not gram granularity). "
    "Semantics: a maximal shared substring is a maximal run along one "
    "DIAGONAL of the gram dotplot (pos_b - pos_a constant, pos_a "
    "consecutive) — merged with a gaps-and-islands window per (pair, "
    "diagonal), so matching is positional, not bag-of-grams: the same "
    "gram recurring at a non-adjacent position opens a new span. "
    "Scale: postings shuffle 60-bit gram hashes once; the self-join "
    f"pairs only grams with 2..{_SPAN_OCC_CAP} corpus occurrences "
    "(singletons can't duplicate, hot grams are skew-capped — the "
    "dedup_jaccard_dfcapped trade, mirrored in the oracle), bounding "
    "the dotplot at N·cap points; windows partition per (pair, "
    "diagonal) — no global sort, no doc×doc blowup. "
    "Ref: Weather_API.py has no substring dedup (charter extension).",
)
def dedup_span_maximal_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _span_pairs(spark, sf_dir).select(
        F.col("da").alias("doc_id_a"),
        F.col("db").alias("doc_id_b"),
        F.col("a_start").cast("long").alias("a_start"),
        (F.col("a_start") + F.col("diag")).cast("long").alias("b_start"),
        "span_tokens",
    )


#: Interval-union CTE chain (spans -> per-doc merged dup regions) —
#: shared by the removal report and the dedup_ladder_audit capstone.
_SQL_SPAN_IV_CTES = """iv AS (
      SELECT DISTINCT doc_id, s, e FROM (
        SELECT da AS doc_id, a_start AS s,
               a_start + span_tokens - 1 AS e FROM spans
        UNION ALL
        SELECT db AS doc_id, a_start + diag AS s,
               a_start + diag + span_tokens - 1 AS e FROM spans
      )
    ),
    flagged AS (
      SELECT doc_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1) THEN 1 ELSE 0 END AS opens
      FROM iv
    ),
    grouped AS (
      SELECT doc_id, s, e,
             SUM(opens) OVER (
               PARTITION BY doc_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM flagged
    ),
    merged AS (
      SELECT doc_id, grp, MIN(s) AS ms, MAX(e) AS me
      FROM grouped GROUP BY doc_id, grp
    ),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_regions,
             CAST(SUM(me - ms + 1) AS BIGINT) AS dup_tokens
      FROM merged GROUP BY doc_id
    )"""


def _span_removal_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_dup_regions, dup_tokens): the interval UNION of each
    doc's maximal duplicated spans — shared by the removal report and
    the dedup_ladder_audit capstone."""
    return _span_iv_union(_span_pairs(spark, sf_dir))


def _span_iv_union(spans: DataFrame) -> DataFrame:
    """Per-doc merged-dup-region accounting for a spans DataFrame.
    Both sides' intervals come from ONE pass over the spans subtree (an
    explode of a 2-element struct array) — a unionAll of two selects
    would re-execute the whole dotplot pipeline per branch. Factored on
    the spans input so the cap audit can union both cap levels through
    the identical interval algebra."""
    iv = (
        spans.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("da").alias("doc_id"),
                        F.col("a_start").alias("s"),
                        (F.col("a_start") + F.col("span_tokens") - 1).alias(
                            "e"
                        ),
                    ),
                    F.struct(
                        F.col("db").alias("doc_id"),
                        (F.col("a_start") + F.col("diag")).alias("s"),
                        (
                            F.col("a_start")
                            + F.col("diag")
                            + F.col("span_tokens")
                            - 1
                        ).alias("e"),
                    ),
                )
            ).alias("x")
        )
        .select("x.doc_id", "x.s", "x.e")
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("s", "e")
    prevmax = (
        F.max("e")
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
    )
    flagged = iv.withColumn(
        "opens",
        F.when(F.col("s") > F.coalesce(prevmax, F.lit(-1)), 1).otherwise(0),
    )
    grouped = flagged.withColumn(
        "grp",
        F.sum("opens").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = grouped.groupBy("doc_id", "grp").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_regions"),
        F.sum(F.col("me") - F.col("ms") + 1).cast("long").alias("dup_tokens"),
    )


@register(
    "dedup_span_removal_report",
    oracle=f"""
    WITH {_SQL_SPAN_BASE},
    {_SQL_SPAN_IV_CTES}
    SELECT d.doc_id,
           CAST(len({SQL_TOKENS.format(c='d.text')}) AS BIGINT)
             AS total_tokens,
           CAST(COALESCE(p.n_dup_regions, 0) AS BIGINT) AS n_dup_regions,
           CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE)
             / NULLIF(len({SQL_TOKENS.format(c='d.text')}), 0)
             AS dup_fraction
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
    doc="Span-removal accounting — what ExactSubstr dedup would CUT: "
    "per document, the union of all its maximal duplicated spans "
    "(participating as either side of any pair) merged into disjoint "
    "token regions, with removable token counts and fraction. Interval "
    "union is the classic sort + running-max gaps-and-islands, "
    "partitioned per doc_id (windows over a handful of span rows per "
    "doc — never token-exploded). Every document survives via the "
    "left join from the doc spine; dup_tokens 0 for clean docs. "
    "This is the report a removal pass acts on (cut these extents, "
    "keep one canonical copy), sized so a 100 TB corpus's report is "
    "O(spans), not O(tokens).",
)
def dedup_span_removal_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = _span_removal_per_doc(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).cast("long").alias("total_tokens")
    )
    return d.join(per_doc.hint("shuffle_hash"), "doc_id", "left").select(
        "doc_id",
        "total_tokens",
        F.coalesce("n_dup_regions", F.lit(0)).cast("long").alias(
            "n_dup_regions"
        ),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        (
            F.coalesce("dup_tokens", F.lit(0)).cast("double")
            / F.nullif(F.col("total_tokens"), F.lit(0))
        ).alias("dup_fraction"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece-style)
# ---------------------------------------------------------------------------
#: Bounded train-query output: top pieces by (use_count DESC, piece ASC).
_UNI_TOP = 64


def _unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED trained vocabulary (piece, count, cost): built once
    per corpus by operators/unigram.py's EM trainer (2 Viterbi E-steps
    over the distinct-word table, driver-quantized M-steps) and
    published via operators/index_store.py — consumers pay a small
    parquet scan, not a retrain."""
    from weather_analysis_bigdata__spark.operators.index_store import (
        persisted_index,
    )
    from weather_analysis_bigdata__spark.operators.unigram import (
        train_unigram,
    )

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        vocab = train_unigram(spark, docs)
        return spark.createDataFrame(
            vocab, "piece STRING, count BIGINT, cost BIGINT"
        )

    return persisted_index(spark, sf_dir, "unigram_vocab", build)


def _prepare_unigram(spark: SparkSession, sf_dir: str) -> None:
    _unigram_vocab(spark, sf_dir)


def _unigram_train_oracle() -> str:
    from weather_analysis_bigdata__spark.operators.unigram_reference import (
        train_oracle_sql,
    )
    from weather_analysis_bigdata__spark.queries_llmops import _bpe_oracle_sf

    return train_oracle_sql(_bpe_oracle_sf())


def _unigram_apply_oracle() -> str:
    from weather_analysis_bigdata__spark.operators.unigram_reference import (
        apply_oracle_sql,
    )
    from weather_analysis_bigdata__spark.queries_llmops import _bpe_oracle_sf

    return apply_oracle_sql(_bpe_oracle_sf())


@register(
    "unigram_train_vocab",
    oracle=_unigram_train_oracle,
    prepare=_prepare_unigram,
    doc="Unigram-LM (SentencePiece-style) tokenizer TRAINING (Kudo "
    "2018) — the prune-down counterpart of bpe_train_merges' "
    "merge-up: seed the vocabulary with the corpus charset + top "
    "substrings by weighted occurrence, then alternate a Viterbi "
    "E-step (min-integer-cost segmentation of every DISTINCT word — "
    "substring explode joined to the broadcast vocab, then one "
    "row-local DP fold; one shuffle per iteration) with a driver-side "
    "M-step (exact usage counts -> shared micro-nat quantizer -> "
    "count-ranked prune; single chars never pruned). The corpus "
    "collapses to the distinct-word table first — the 100 TB trick "
    "shared with the BPE trainer. Returns the top multi-char pieces "
    "by (use_count DESC, piece ASC). The EM applies a data-dependent "
    "rewrite per step no single SQL statement expresses, so the "
    "oracle is a lazy literal-VALUES table from the INDEPENDENT "
    "pure-Python operators/unigram_reference.py (regenerated from the "
    "current corpus on first use; exact-equality test gate in "
    "tests/test_round7_ops.py). Trained vocab persists as an index "
    "(operators/index_store.py).",
)
def unigram_train_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [
        (r["piece"], int(r["count"]), int(r["cost"]))
        for r in _unigram_vocab(spark, sf_dir).collect()
        if len(r["piece"]) > 1
    ]
    rows.sort(key=lambda r: (-r[1], r[0]))
    out = [
        (i + 1, p, len(p), c, q)
        for i, (p, c, q) in enumerate(rows[:_UNI_TOP])
    ]
    return spark.createDataFrame(
        out,
        "piece_rank INT, piece STRING, piece_len INT, "
        "use_count BIGINT, cost_micronat BIGINT",
    ).orderBy("piece_rank")


@register(
    "unigram_apply_tokenize",
    oracle=_unigram_apply_oracle,
    prepare=_prepare_unigram,
    doc="Unigram-LM tokenizer APPLICATION — the inference side of "
    "unigram_train_vocab: Viterbi-tokenize every DISTINCT word once "
    "under the persisted vocabulary (the same integer DP as training, "
    "so train/apply can never disagree), then fan the per-word token "
    "counts back over the corpus with a word join and aggregate per "
    "source (chars before vs unigram tokens after, compression "
    "ratio). Tokenizing distinct words instead of occurrences is the "
    "production-scale move (Heaps' law: the DP runs orders of "
    "magnitude fewer times than a per-occurrence tokenizer). Oracle: "
    "lazy literal VALUES from the independent pure-Python reference "
    "(see unigram_train_vocab).",
)
def unigram_apply_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_analysis_bigdata__spark.operators.bpe import _word_freqs
    from weather_analysis_bigdata__spark.operators.unigram import (
        tokenize_words,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab_df = _unigram_vocab(spark, sf_dir)
    words = _word_freqs(docs, "text")
    per_word = tokenize_words(words, vocab_df).select(
        "word",
        F.length("word").cast("long").alias("w_chars"),
        F.col("n_pieces").cast("long").alias("w_tokens"),
    )
    occurrences = docs.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                lambda w: w != "",
            )
        ).alias("word"),
    )
    per_source = (
        occurrences.join(per_word.hint("shuffle_hash"), "word")
        .groupBy("source")
        .agg(
            F.sum("w_chars").alias("chars_total"),
            F.sum("w_tokens").alias("unigram_tokens"),
        )
    )
    n_docs = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return n_docs.join(per_source.hint("shuffle_hash"), "source", "left").select(
        "source",
        "n_docs",
        F.coalesce("chars_total", F.lit(0)).alias("chars_total"),
        F.coalesce("unigram_tokens", F.lit(0)).alias("unigram_tokens"),
        (
            F.col("unigram_tokens").cast("double")
            / F.nullif(F.col("chars_total"), F.lit(0)).cast("double")
        ).alias("compression"),
    )


# ---------------------------------------------------------------------------
# Classifier operating-point sweep
# ---------------------------------------------------------------------------
#: Threshold grid resolution: _SWEEP_POINTS + 1 thresholds from the
#: min to the max held-out signed margin (integer micro-nats).
_SWEEP_POINTS = 40


def _prepare_sweep(spark: SparkSession, sf_dir: str) -> None:
    from weather_analysis_bigdata__spark.queries_eval import _prepare_qnb

    _prepare_qnb(spark, sf_dir)


def _sweep_oracle() -> str:
    from weather_analysis_bigdata__spark.queries_eval import _qnb_score_sql
    from weather_analysis_bigdata__spark.queries_quality import (
        _ensemble_oracle,
    )

    return f"""
    WITH {_qnb_score_sql()},
    lab AS (
      SELECT doc_id, CASE WHEN keep_majority THEN 'keep' ELSE 'drop' END
               AS label
      FROM ({_ensemble_oracle()}) z
    ),
    held AS (
      SELECT CASE WHEN p.pred_label = 'keep' THEN p.margin_micro
                  ELSE -p.margin_micro END AS m,
             l.label
      FROM qpred p JOIN lab l USING (doc_id)
      WHERE p.q_rn = 1 AND p.is_test
    ),
    bounds AS (
      SELECT MIN(m) AS mn, MAX(m) AS mx,
             GREATEST(1, (MAX(m) - MIN(m) + {_SWEEP_POINTS} - 1)
                         // {_SWEEP_POINTS}) AS step
      FROM held
    ),
    hist AS (
      SELECT LEAST((h.m - b.mn) // b.step, {_SWEEP_POINTS}) AS cell,
             h.label, CAST(COUNT(*) AS BIGINT) AS n
      FROM held h CROSS JOIN bounds b
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_held,
             CAST(SUM(CASE WHEN label = 'keep' THEN n ELSE 0 END)
                  AS BIGINT) AS n_pos
      FROM hist
    ),
    per_k AS (
      SELECT g.k,
             CAST(SUM(CASE WHEN h.label = 'keep' THEN h.n END) AS BIGINT)
               AS tp,
             CAST(SUM(CASE WHEN h.label = 'drop' THEN h.n END) AS BIGINT)
               AS fp
      FROM range(0, {_SWEEP_POINTS + 1}) AS g(k)
      LEFT JOIN hist h ON h.cell >= g.k
      GROUP BY g.k
    )
    SELECT CAST(p.k AS INT) AS threshold_rank,
           CAST(b.mn + p.k * b.step AS BIGINT) AS threshold_micro,
           CAST(COALESCE(p.tp, 0) + COALESCE(p.fp, 0) AS BIGINT) AS n_keep,
           CAST(COALESCE(p.tp, 0) + COALESCE(p.fp, 0) AS DOUBLE)
             / NULLIF(t.n_held, 0) AS keep_rate,
           CAST(p.tp AS DOUBLE)
             / NULLIF(COALESCE(p.tp, 0) + COALESCE(p.fp, 0), 0)
             AS precision_keep,
           CAST(COALESCE(p.tp, 0) AS DOUBLE) / NULLIF(t.n_pos, 0)
             AS recall_keep
    FROM per_k p CROSS JOIN bounds b CROSS JOIN tot t
    """


@register(
    "quality_classifier_threshold_sweep",
    oracle=_sweep_oracle,
    doc="Operating-point sweep for the distilled quality classifier — "
    "the step that prices the FineWeb-Edu rung: held-out "
    "precision/recall/keep-rate of 'keep iff signed margin >= t' at "
    f"{_SWEEP_POINTS + 1} integer thresholds spanning the observed "
    "held-out margin range (signed margin = keep score - drop score "
    "in micro-nats, so argmax = threshold 'm >= 0'). Scale shape: "
    "each held-out doc maps to its highest-passed grid cell with "
    "integer arithmetic (floor-div by the grid step), the corpus "
    "reduces to a <= 2x(grid+1)-row histogram at the first map-side-"
    "combined aggregate, and every suffix-sum/ratio after that runs "
    "on grid-sized tables — the PR curve costs one linear pass at "
    "100 TB, never a global sort (the corpus_drift_tv reduction "
    "pattern). Oracle re-derives labels by running the registered "
    "ensemble oracle and the persisted-model scoring chain "
    "(generator-oracle pattern); invariants (keep_rate and "
    "recall monotone nonincreasing in t) are pytest-gated in "
    "tests/test_round7_ops.py. Serving reads ONLY the persisted "
    "514-row model — the sweep prices thresholds, it does not "
    "retrain.",
    prepare=_prepare_sweep,
)
def quality_classifier_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from weather_analysis_bigdata__spark.queries_eval import (
        _qnb_labels,
        _qnb_scores,
    )

    scores = _qnb_scores(spark, sf_dir)
    labels = _qnb_labels(spark, sf_dir)
    held = (
        scores.filter(F.col("is_test"))
        .join(labels.hint("shuffle_hash"), "doc_id")
        .select(
            F.when(
                F.col("pred_label") == "keep", F.col("margin_micro")
            )
            .otherwise(-F.col("margin_micro"))
            .alias("m"),
            "label",
        )
    )
    # Two-pass grid statistic (the equi_depth_bins_twopass shape):
    # pass 1 reduces the held-out chain to a 1-row bounds table, pass 2
    # to the <= 2x(grid+1)-row histogram. Round-12 restructure (guide
    # §1/§5, the eager-pin build-time class): the old form pinned the
    # two REDUCTIONS, so the expensive scoring+labeling subtree
    # executed twice (once per pin job); now `held` itself pins LAZILY
    # — the 1-row bounds collect materializes it — and the bounds/
    # histogram/totals travel as bounded driver state (1 + ≤2·(grid+1)
    # rows, the NB-count-index pattern), so the chain runs ONCE and the
    # downstream grid algebra is literal/local-relation arithmetic with
    # bit-identical integer semantics.
    from weather_analysis_bigdata__spark.session import pin_lazy

    held = held.transform(pin_lazy)
    b = held.agg(
        F.min("m").alias("mn"),
        F.max("m").alias("mx"),
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(
                f"(max(m) - min(m) + {_SWEEP_POINTS} - 1)"
                f" div {_SWEEP_POINTS}"
            ),
        ).alias("step"),
    ).collect()[0]
    mn = F.lit(b["mn"]).cast("long")
    step = F.lit(b["step"]).cast("long")
    # `div` (integer division) with the collected bounds as literals —
    # the identical expression the old crossJoin(bounds) form evaluated.
    cell = (
        F.expr(f"(m - {b['mn']}) div {b['step']}")
        if b["mn"] is not None
        else F.lit(None).cast("long")
    )
    hist_rows = (
        held.select(
            F.least(cell, F.lit(_SWEEP_POINTS).cast("long")).alias("cell"),
            "label",
        )
        .groupBy("cell", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    )
    n_held = sum(int(r["n"]) for r in hist_rows)
    n_pos = sum(int(r["n"]) for r in hist_rows if r["label"] == "keep")
    hist = spark.createDataFrame(
        [(r["cell"], r["label"], r["n"]) for r in hist_rows],
        "cell BIGINT, label STRING, n BIGINT",
    )
    grid = spark.range(0, _SWEEP_POINTS + 1).select(F.col("id").alias("k"))
    per_k = (
        grid.join(F.broadcast(hist), F.col("cell") >= F.col("k"), "left")
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("label") == "keep", F.col("n")))
            .cast("long")
            .alias("tp"),
            F.sum(F.when(F.col("label") == "drop", F.col("n")))
            .cast("long")
            .alias("fp"),
        )
    )
    n_keep = F.coalesce(F.col("tp"), F.lit(0)) + F.coalesce(
        F.col("fp"), F.lit(0)
    )
    return (
        per_k.select(
            F.col("k").cast("int").alias("threshold_rank"),
            (mn + F.col("k") * step)
            .cast("long")
            .alias("threshold_micro"),
            n_keep.cast("long").alias("n_keep"),
            (
                n_keep.cast("double")
                / F.nullif(F.lit(n_held).cast("long"), F.lit(0))
            ).alias("keep_rate"),
            (
                F.col("tp").cast("double")
                / F.nullif(n_keep, F.lit(0))
            ).alias("precision_keep"),
            (
                F.coalesce(F.col("tp"), F.lit(0)).cast("double")
                / F.nullif(F.lit(n_pos).cast("long"), F.lit(0))
            ).alias("recall_keep"),
        )
    )


# ---------------------------------------------------------------------------
# Drift-gated admission (corpus_drift_tv ∘ ingest routing)
# ---------------------------------------------------------------------------
#: An arriving slice whose token-distribution TV drift against the
#: corpus exceeds this routes to quarantine WHOLE — no document of a
#: distribution-shifted crawl snapshot reaches the dedup arms until a
#: human (or a re-submission) clears it. Margins at every test SF:
#: admitted slices measure <= 56k ppm, the planted novel-vocabulary
#: slice >= 866k.
_ADMIT_TV_PPM = 150_000


def _admission_route(
    batch_docs: DataFrame,
    cshares: DataFrame,
    pidx: DataFrame,
    batch_id: int,
) -> DataFrame:
    """The drift-gated admission kernel — shared by the batch query
    and the streaming replay (stream ≡ batch is a property of ONE code
    path, the _route_batch pattern): the arriving slice reduces to a
    1-row TV summary against the persisted corpus shares; per-doc
    paragraph-dedup decisions come from the shared
    _incremental_decisions kernel against the persisted paragraph
    index; the gate composes them — drifted slice => every doc
    'quarantine', admitted slice => decision-mapped arm."""
    from weather_analysis_bigdata__spark.queries_hygiene import (
        _drift_tv_summary,
        _incremental_decisions,
    )

    tv = _drift_tv_summary(batch_docs, cshares).select("tv_ppm")
    dec = _incremental_decisions(batch_docs, pidx)
    admitted = F.col("tv_ppm") <= _ADMIT_TV_PPM
    return dec.crossJoin(F.broadcast(tv)).select(
        F.lit(batch_id).cast("long").alias("batch_id"),
        "doc_id",
        "tv_ppm",
        admitted.alias("admitted"),
        F.when(~admitted, "quarantine")
        .when(F.col("verdict") == "duplicate", "link")
        .when(F.col("verdict") == "partial", "partial_dedup")
        .otherwise("keep")
        .alias("route"),
    )


def _admission_oracle() -> str:
    from weather_analysis_bigdata__spark.queries_hygiene import (
        _SQL_PARA_BATCH,
        _sql_drift_shares,
        _sql_paragraphs,
    )

    # slice i of the arriving batch, recovered from its doc_id band
    # (+1000000 = re-submissions, +3000000 = edits, +2000000 = novel)
    bands = [1, 3, 2]
    ctes = [
        _sql_paragraphs("documents", prefix="c"),
        "cidx AS (SELECT md5(para) AS pid FROM cpara GROUP BY md5(para))",
        _SQL_PARA_BATCH,
        _sql_paragraphs("batch", prefix="b"),
        """m AS (
      SELECT b.doc_id, (c.pid IS NOT NULL) AS known
      FROM (SELECT doc_id, md5(para) AS pid FROM bpara) b
      LEFT JOIN cidx c USING (pid)
    )""",
        """dec AS (
      SELECT doc_id,
             CASE WHEN COUNT(*) FILTER (known) = COUNT(*) THEN 'duplicate'
                  WHEN COUNT(*) FILTER (known) > 0 THEN 'partial'
                  ELSE 'novel' END AS verdict
      FROM m GROUP BY doc_id
    )""",
        _sql_drift_shares("documents", "c"),
    ]
    tv_rows = []
    for i, band in enumerate(bands):
        ctes.append(
            f"slice{i} AS (SELECT * FROM batch "
            f"WHERE doc_id // 1000000 = {band})"
        )
        ctes.append(_sql_drift_shares(f"slice{i}", f"s{i}"))
        tv_rows.append(
            f"""
      SELECT CAST({i} AS BIGINT) AS batch_id,
             CAST(SUM(ABS(COALESCE(c.share_ppm, 0)
                          - COALESCE(b.share_ppm, 0))) // 2 AS BIGINT)
               AS tv_ppm
      FROM csh c FULL OUTER JOIN s{i}sh b ON c.bucket = b.bucket"""
        )
    ctes.append("tv AS (" + "\n      UNION ALL".join(tv_rows) + "\n    )")
    band_case = (
        "CASE d.doc_id // 1000000 WHEN 1 THEN 0 WHEN 3 THEN 1 ELSE 2 END"
    )
    joined_ctes = ",\n    ".join(ctes)
    return f"""
    WITH {joined_ctes}
    SELECT t.batch_id, d.doc_id, t.tv_ppm,
           t.tv_ppm <= {_ADMIT_TV_PPM} AS admitted,
           CASE WHEN t.tv_ppm > {_ADMIT_TV_PPM} THEN 'quarantine'
                WHEN d.verdict = 'duplicate' THEN 'link'
                WHEN d.verdict = 'partial' THEN 'partial_dedup'
                ELSE 'keep' END AS route
    FROM dec d JOIN tv t ON t.batch_id = {band_case}
    """


def _prepare_admission(spark: SparkSession, sf_dir: str) -> None:
    from weather_analysis_bigdata__spark.queries_hygiene import (
        _prepare_drift_index,
        _prepare_paragraph_index,
    )

    _prepare_drift_index(spark, sf_dir)
    _prepare_paragraph_index(spark, sf_dir)


@register(
    "corpus_drift_gated_admission",
    oracle=_admission_oracle,
    doc="DRIFT-GATED ADMISSION — the governance capstone composing "
    "corpus_drift_tv with the ingest-routing arms: each arriving "
    "slice first faces the distribution gate (token-bucket TV vs the "
    "PERSISTED corpus shares, integer ppm); a slice drifted past "
    f"{_ADMIT_TV_PPM} ppm routes to 'quarantine' WHOLE — its docs "
    "never reach the dedup arms — while an admitted slice's docs "
    "route by the shared paragraph-decision kernel (duplicate -> "
    "'link', partial -> 'partial_dedup', novel -> 'keep'). The "
    "planted three-slice batch exercises both gate outcomes: "
    "re-submissions and edits pass (<= 56k ppm at every test SF), "
    "the novel-vocabulary slice quarantines (>= 866k). Scale: per "
    "slice, one map-side-combined reduction to a <= 256-row share "
    "table + a 1-row TV broadcast, and the 16-byte-pid index join — "
    "the gate adds O(buckets) work per admitted terabyte. Both "
    "indexes persist (prepare hook); the streaming twin "
    "(streaming_drift_gate_replay) runs THIS kernel per micro-batch "
    "against the same oracle, proving stream ≡ batch.",
    prepare=_prepare_admission,
)
def corpus_drift_gated_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from weather_analysis_bigdata__spark.queries_hygiene import (
        _drift_index,
        _paragraph_batch_slices,
        _paragraph_index,
    )

    cshares = _drift_index(spark, sf_dir)
    pidx = _paragraph_index(spark, sf_dir)
    slices = _paragraph_batch_slices(spark, sf_dir)
    out = _admission_route(slices[0], cshares, pidx, 0)
    for i, sl in enumerate(slices[1:], start=1):
        out = out.unionByName(_admission_route(sl, cshares, pidx, i))
    return out


@register(
    "streaming_drift_gate_replay",
    oracle=_admission_oracle,
    doc="The drift-gated admission kernel RUN BY THE STREAMING "
    "ENGINE: the three arriving slices replay as three ORDERED "
    "micro-batches (one mtime-ordered file each, maxFilesPerTrigger=1 "
    "— the drift monitor's batch-identity device); foreachBatch runs "
    "the SAME _admission_route kernel per micro-batch against the "
    "persisted corpus-share and paragraph indexes and publishes "
    "batch_id-keyed segments (idempotent overwrite, at-least-once "
    "safe). Registered oracle = corpus_drift_gated_admission's SQL "
    "VERBATIM, so the hash match proves the admission table commutes "
    "with micro-batching INCLUDING batch identity — the gate an "
    "ingest pipeline actually wires: each crawl snapshot is admitted "
    "or quarantined as a unit at line rate, before any dedup "
    "spending.",
    prepare=_prepare_admission,
)
def streaming_drift_gate_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from weather_analysis_bigdata__spark.queries_hygiene import (
        _drift_index,
        _paragraph_batch_slices,
        _paragraph_index,
    )

    cshares = _drift_index(spark, sf_dir)
    pidx = _paragraph_index(spark, sf_dir)
    return replay_segments(
        spark,
        _paragraph_batch_slices(spark, sf_dir),
        lambda bdf, batch_id: _admission_route(bdf, cshares, pidx, batch_id),
        "driftgate",
    )


# ---------------------------------------------------------------------------
# Incremental maximal-span dedup (arriving batch vs persisted postings)
# ---------------------------------------------------------------------------
def _span_postings_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED corpus gram-postings index (gh, doc_id, pos): every
    8-gram occurrence of the corpus under the occurrence cap, keyed by
    its 60-bit hash — 12 bytes of payload per corpus gram, the
    substring analogue of the paragraph-pid index. Grams hotter than
    _SPAN_OCC_CAP corpus occurrences are excluded at build time (the
    stopword-gram skew guard, same trade as the batch form)."""
    from weather_analysis_bigdata__spark.operators.index_store import (
        persisted_index,
    )

    def build() -> DataFrame:
        p = (
            load_table(spark, sf_dir, "documents")
            .select(
                "doc_id",
                F.posexplode(word_ngrams(tokens("text"), _SPAN_N)).alias(
                    "pos0", "gram"
                ),
            )
            .select(
                "doc_id",
                (F.col("pos0") + 1).alias("pos"),
                hex15_to_long(md5s(F.col("gram"))).alias("gh"),
            )
        )
        keep = (
            p.groupBy("gh")
            .agg(F.count(F.lit(1)).alias("occ"))
            .filter(F.col("occ") <= _SPAN_OCC_CAP)
        )
        return p.join(keep.select("gh"), "gh").select("gh", "doc_id", "pos")

    return persisted_index(
        spark, sf_dir, f"span_postings{_SPAN_OCC_CAP}", build
    )


def _prepare_span_postings(spark: SparkSession, sf_dir: str) -> None:
    _span_postings_index(spark, sf_dir)


# the arriving-batch CTE shared with the paragraph/drift family — the
# incremental span oracle probes the same planted batch
from weather_analysis_bigdata__spark.queries_hygiene import (  # noqa: E402
    _SQL_PARA_BATCH as _SQL_PB_R7,
)


def _span_probe(batch_docs: DataFrame, idx: DataFrame) -> DataFrame:
    """The incremental span kernel — shared by the batch query and
    the streaming replay (stream ≡ batch is a property of ONE code
    path): arriving docs' gram occurrences probe the persisted
    postings, matches merge along dotplot diagonals."""
    bp = batch_docs.select(
        "doc_id",
        F.posexplode(word_ngrams(tokens("text"), _SPAN_N)).alias(
            "pos0", "gram"
        ),
    ).select(
        F.col("doc_id").alias("dbat"),
        (F.col("pos0") + 1).alias("pb"),
        hex15_to_long(md5s(F.col("gram"))).alias("gh"),
    )
    pairs = bp.hint("shuffle_hash").join(idx, "gh").select(
        "dbat",
        F.col("doc_id").alias("dcorp"),
        F.col("pos").alias("pc"),
        (F.col("pb") - F.col("pos")).alias("diag"),
    )
    w = Window.partitionBy("dbat", "dcorp", "diag").orderBy("pc")
    isl = pairs.withColumn("isl", F.col("pc") - F.row_number().over(w))
    return (
        isl.groupBy("dbat", "dcorp", "diag", "isl")
        .agg(
            F.min("pc").alias("c_start"),
            (F.max("pc") - F.min("pc") + _SPAN_N)
            .cast("long")
            .alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= _SPAN_MIN_TOKENS)
        .select(
            F.col("dbat").alias("batch_doc_id"),
            F.col("dcorp").alias("corpus_doc_id"),
            (F.col("c_start") + F.col("diag")).cast("long").alias("b_start"),
            F.col("c_start").cast("long").alias("c_start"),
            "span_tokens",
        )
    )


_SPAN_INC_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {SQL_TOKENS.format(c='text')} AS toks FROM documents
    ),
    p AS (
      SELECT doc_id, i AS pos, {_SQL_GRAM_CAT} AS gram
      FROM t, unnest(generate_series(1, len(toks) - {_SPAN_N - 1})) AS u(i)
    ),
    capped AS (
      SELECT gram FROM p GROUP BY gram HAVING COUNT(*) <= {_SPAN_OCC_CAP}
    ),
    pidx AS (SELECT p.* FROM p JOIN capped USING (gram)),
    {_SQL_PB_R7},
    bt AS (
      SELECT doc_id, {SQL_TOKENS.format(c='text')} AS toks FROM batch
    ),
    bp AS (
      SELECT doc_id, i AS pos, {_SQL_GRAM_CAT} AS gram
      FROM bt, unnest(generate_series(1, len(toks) - {_SPAN_N - 1})) AS u(i)
    ),
    pairs AS (
      SELECT b.doc_id AS dbat, c.doc_id AS dcorp, c.pos AS pc,
             b.pos - c.pos AS diag
      FROM bp b JOIN pidx c USING (gram)
    ),
    isl AS (
      SELECT dbat, dcorp, diag, pc,
             pc - row_number() OVER (
               PARTITION BY dbat, dcorp, diag ORDER BY pc) AS isl
      FROM pairs
    ),
    spans AS (
      SELECT dbat, dcorp, diag, MIN(pc) AS c_start,
             CAST(MAX(pc) - MIN(pc) + {_SPAN_N} AS BIGINT) AS span_tokens
      FROM isl GROUP BY dbat, dcorp, diag, isl
      HAVING MAX(pc) - MIN(pc) + {_SPAN_N} >= {_SPAN_MIN_TOKENS}
    )
    SELECT dbat AS batch_doc_id, dcorp AS corpus_doc_id,
           CAST(c_start + diag AS BIGINT) AS b_start,
           CAST(c_start AS BIGINT) AS c_start,
           span_tokens
    FROM spans
    """


@register(
    "dedup_span_incremental",
    oracle=_SPAN_INC_ORACLE,
    doc="INCREMENTAL maximal-span substring dedup — the production "
    "direction of dedup_span_maximal_pairs (the "
    "dedup_paragraph_incremental pattern one granularity down): an "
    "arriving batch's 8-gram occurrences probe the PERSISTED corpus "
    "gram-postings index (gh, doc_id, pos — 60-bit hashed grams under "
    f"the {_SPAN_OCC_CAP}-occurrence cap, corpus text never re-read), "
    "matches merge along dotplot diagonals per (arriving doc, corpus "
    f"doc), and spans ≥ {_SPAN_MIN_TOKENS} tokens are reported with "
    "both extents. The planted batch exercises every outcome: exact "
    "re-submissions surface full-length spans against their corpus "
    "originals, one-token-appended edits surface their entire "
    "original text as one span, novel-vocabulary docs match nothing. "
    "Scale: batch-side work is one hash join against the index "
    "(index build is the prepare-time cost, exactly like the "
    "paragraph-pid index), window partitions per (pair, diagonal); "
    "this is how ExactSubstr dedup actually deploys — each crawl "
    "shard checks against the corpus, not all-pairs.",
    prepare=_prepare_span_postings,
)
def dedup_span_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_analysis_bigdata__spark.queries_hygiene import (
        _paragraph_batch,
    )

    return _span_probe(
        _paragraph_batch(spark, sf_dir), _span_postings_index(spark, sf_dir)
    )


@register(
    "streaming_span_dedup_replay",
    oracle=_SPAN_INC_ORACLE,
    doc="The incremental span-dedup kernel RUN BY THE STREAMING "
    "ENGINE: the arriving batch replays as a file stream in 4 "
    "micro-batches; foreachBatch probes each micro-batch's gram "
    "occurrences against the same PERSISTED gram-postings index via "
    "the shared _span_probe kernel and publishes batch_id-keyed "
    "overwrite segments (idempotent under redelivery — the "
    "streaming_paragraph_dedup_replay pattern at substring "
    "granularity). Registered oracle = dedup_span_incremental's SQL "
    "VERBATIM, so the hash match proves the span table COMMUTES with "
    "micro-batching — valid because the kernel is doc-local plus a "
    "static index probe, and the proof pins exactly that. This is "
    "ExactSubstr dedup AT INGEST: each crawl shard's duplicated "
    "spans are known before the shard lands.",
    prepare=_prepare_span_postings,
)
def streaming_span_dedup_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from weather_analysis_bigdata__spark.queries_hygiene import (
        _paragraph_batch,
    )

    idx = _span_postings_index(spark, sf_dir)
    return replay_segments(
        spark,
        _paragraph_batch(spark, sf_dir),
        lambda bdf, _: _span_probe(bdf, idx),
        "spandedup",
    )


# ---------------------------------------------------------------------------
# Stratified exact-quota sampling
# ---------------------------------------------------------------------------
#: Total sample budget — NOT divisible into the language strata
#: evenly, so the largest-remainder leftover distribution and its
#: tie-break both execute at every test SF.
_SSQ_N = 100
_SSQ_SALT = "ssq:"


def _ssq_quotas(spark: SparkSession, sf_dir: str) -> list[tuple[str, int]]:
    """Largest-remainder (Hamilton) apportionment of _SSQ_N over the
    language strata from EXACT integer counts: floor((N*n_s)/n_tot)
    each, leftovers to the largest (N*n_s) mod n_tot, ties broken by
    stratum name ASC. The strata table is O(langs) — a bounded driver
    collect, the BPE-merge-table precedent."""
    rows = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    )
    counts = sorted((r["lang"], int(r["n"])) for r in rows)
    tot = sum(n for _, n in counts)
    floors = {g: (_SSQ_N * n) // tot for g, n in counts}
    rems = {g: (_SSQ_N * n) % tot for g, n in counts}
    leftover = _SSQ_N - sum(floors.values())
    for g, _ in sorted(rems.items(), key=lambda kv: (-kv[1], kv[0]))[
        :leftover
    ]:
        floors[g] += 1
    return sorted(floors.items())


@register(
    "sample_stratified_quota",
    oracle=f"""
    WITH c AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents
      GROUP BY lang
    ),
    t AS (SELECT SUM(n) AS tot FROM c),
    q0 AS (
      SELECT lang, ({_SSQ_N} * n) // t.tot AS fl,
             ({_SSQ_N} * n) % t.tot AS rem
      FROM c CROSS JOIN t
    ),
    lo AS (SELECT {_SSQ_N} - SUM(fl) AS n_left FROM q0),
    q AS (
      SELECT lang,
             fl + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
                       <= (SELECT n_left FROM lo) THEN 1 ELSE 0 END
               AS quota
      FROM q0
    ),
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {sql_hex15_to_long(
                   f"md5('{_SSQ_SALT}' || CAST(doc_id AS VARCHAR))")},
                        doc_id) AS rk
      FROM documents
    )
    SELECT r.doc_id, r.lang, CAST(r.rk AS BIGINT) AS sel_rank,
           CAST(q.quota AS BIGINT) AS quota
    FROM r JOIN q USING (lang)
    WHERE r.rk <= q.quota
    """,
    doc="STRATIFIED exact-quota sampling — the data-mixture primitive "
    f"behind eval-set construction and pilot corpora: exactly {_SSQ_N} "
    "documents drawn proportionally across the language strata via "
    "largest-remainder (Hamilton) apportionment on exact integer "
    "counts (floor quotas, leftovers to the largest remainders, ties "
    "by stratum name — the en/es remainder tie executes at sf0.01), "
    "then the intra-stratum sample = the quota-prefix of a "
    "deterministic salted-hash ranking (retry/partitioning-"
    "independent, the epoch_shuffle keying discipline; doc_id "
    "tie-break). Scale: the apportionment table is O(strata) rows "
    "(bounded driver quantization, the BPE-table precedent; the "
    "oracle computes the identical integers with 5-row windows); "
    "selection is ONE partitioned window per stratum — each "
    "executor sorts only its stratum slice, never a global order. "
    "Sum of quotas = the budget EXACTLY, pytest-gated.",
)
def sample_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    quotas = _ssq_quotas(spark, sf_dir)
    qdf = spark.createDataFrame(quotas, "lang STRING, quota BIGINT")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        hex15_to_long(
            md5s(F.concat(F.lit(_SSQ_SALT), F.col("doc_id").cast("string")))
        ).alias("hk"),
    )
    w = Window.partitionBy("lang").orderBy("hk", "doc_id")
    r = d.select(
        "doc_id", "lang", F.row_number().over(w).cast("long").alias(
            "sel_rank"
        )
    )
    return r.join(F.broadcast(qdf), "lang").filter(
        F.col("sel_rank") <= F.col("quota")
    ).select("doc_id", "lang", "sel_rank", "quota")


# ---------------------------------------------------------------------------
# Tokenizer fertility comparison (BPE vs unigram-LM)
# ---------------------------------------------------------------------------
def _fertility_oracle() -> str:
    """Literal VALUES built by BOTH independent pure-Python tokenizer
    references over the current corpus (the lazy BPE-oracle pattern):
    per source, word/char totals and each tokenizer's token count."""
    from weather_analysis_bigdata__spark.operators import (
        bpe_reference as bref,
    )
    from weather_analysis_bigdata__spark.operators import (
        unigram_reference as uref,
    )
    from weather_analysis_bigdata__spark.queries_llmops import _bpe_oracle_sf

    sf = _bpe_oracle_sf()
    docs = uref._read_documents(sf)
    merges = bref.train_merges(docs)
    bpe = bref.apply_stats(docs, merges)  # src -> (n_docs, before, after)
    uni = uref.apply_stats(docs, uref.train(docs))
    words: dict[str, int] = {}
    for _, source, text in docs:
        words[source] = words.get(source, 0) + len(uref._words(text))
    vals = ",\n      ".join(
        f"('{s}', {words[s]}, {bpe[s][1]}, {bpe[s][2]}, {uni[s][2]})"
        for s in sorted(words)
    )
    return f"""
    SELECT source,
           CAST(words_total AS BIGINT) AS words_total,
           CAST(chars_total AS BIGINT) AS chars_total,
           CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
           CAST(unigram_tokens AS BIGINT) AS unigram_tokens,
           CAST(bpe_tokens AS DOUBLE) / NULLIF(words_total, 0)
             AS bpe_per_word,
           CAST(unigram_tokens AS DOUBLE) / NULLIF(words_total, 0)
             AS unigram_per_word
    FROM (VALUES
      {vals})
      AS t(source, words_total, chars_total, bpe_tokens, unigram_tokens)
    """


def _bpe_merges_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED BPE merge list (the 10-row trained artifact of
    bpe_train_merges) — the fertility audit serves from it instead of
    retraining per run, the unigram_vocab/index_store split between
    train time and serve time."""
    from weather_analysis_bigdata__spark.operators.bpe import (
        train_bpe_merges,
    )
    from weather_analysis_bigdata__spark.operators.index_store import (
        persisted_index,
    )

    def build() -> DataFrame:
        merges = train_bpe_merges(
            load_table(spark, sf_dir, "documents"), n_merges=10
        )
        return spark.createDataFrame(
            merges,
            "merge_rank INT, left STRING, right STRING, pair_freq BIGINT",
        )

    return persisted_index(spark, sf_dir, "bpe_merges10", build)


def _prepare_fertility(spark: SparkSession, sf_dir: str) -> None:
    _prepare_unigram(spark, sf_dir)
    _bpe_merges_index(spark, sf_dir)


@register(
    "tokenizer_fertility_compare",
    oracle=_fertility_oracle,
    prepare=_prepare_fertility,
    doc="TOKENIZER FERTILITY audit — the table a pipeline reads before "
    "committing to a tokenizer (fertility = tokens emitted per word; "
    "lower = cheaper training at the same corpus): per source, the "
    "word/char totals and the token counts of BOTH trained "
    "tokenizers — the 10-merge BPE fold and the EM-trained "
    "unigram-LM Viterbi DP — with per-word fertility for each. BOTH "
    "sides tokenize the DISTINCT-WORD table exactly once (per-word "
    "results are word-deterministic, so occurrence-level folding is "
    "pure waste — the Heaps-law trick; measured 18.4 s -> ~2 s at "
    "sf0.1) and one word join fans all three per-word counts (chars, "
    "bpe, unigram) back over the corpus. Both trained artifacts "
    "serve from persisted indexes (bpe_merges10, unigram_vocab). "
    "Oracle: one literal VALUES table built by BOTH independent "
    "pure-Python references over the current corpus — a hash match "
    "certifies the full train+apply path of each tokenizer family "
    "simultaneously.",
)
def tokenizer_fertility_compare(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from weather_analysis_bigdata__spark.operators.bpe import (
        _apply_merge,
        _word_freqs,
    )
    from weather_analysis_bigdata__spark.operators.unigram import (
        tokenize_words,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = [
        (int(r["merge_rank"]), r["left"], r["right"], int(r["pair_freq"]))
        for r in _bpe_merges_index(spark, sf_dir)
        .orderBy("merge_rank")
        .collect()
    ]
    uni_pw = tokenize_words(
        _word_freqs(docs, "text"), _unigram_vocab(spark, sf_dir)
    )
    bpe_syms = F.split(F.col("word"), "")
    for _, left, right, _ in merges:
        bpe_syms = _apply_merge(bpe_syms, left, right)
    per_word = uni_pw.select(
        "word",
        F.length("word").cast("long").alias("w_chars"),
        F.size(bpe_syms).cast("long").alias("w_bpe"),
        F.col("n_pieces").cast("long").alias("w_uni"),
    )
    occ = docs.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                lambda w: w != "",
            )
        ).alias("word"),
    )
    return (
        occ.join(per_word.hint("shuffle_hash"), "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("words_total"),
            F.sum("w_chars").cast("long").alias("chars_total"),
            F.sum("w_bpe").cast("long").alias("bpe_tokens"),
            F.sum("w_uni").cast("long").alias("unigram_tokens"),
        )
        .select(
            "source",
            "words_total",
            "chars_total",
            "bpe_tokens",
            "unigram_tokens",
            (
                F.col("bpe_tokens").cast("double")
                / F.nullif(F.col("words_total"), F.lit(0))
            ).alias("bpe_per_word"),
            (
                F.col("unigram_tokens").cast("double")
                / F.nullif(F.col("words_total"), F.lit(0))
            ).alias("unigram_per_word"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup-ladder audit capstone (document -> paragraph -> span)
# ---------------------------------------------------------------------------
def _ladder_oracle() -> str:
    from weather_analysis_bigdata__spark.queries_hygiene import (
        _PARA_MIN_DOCS,
        _sql_paragraphs,
    )

    toks = SQL_TOKENS.format(c="d.text")
    return f"""
    WITH ex AS (SELECT doc_id, md5(text) AS fp FROM documents),
    exc AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_copies
            FROM ex GROUP BY fp),
    {_sql_paragraphs()},
    pdup AS (
      SELECT para FROM para GROUP BY para
      HAVING COUNT(DISTINCT doc_id) >= {_PARA_MIN_DOCS}
    ),
    pm AS (
      SELECT p2.doc_id, (d2.para IS NOT NULL) AS is_dup
      FROM para p2 LEFT JOIN pdup d2 ON p2.para = d2.para
    ),
    pd AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
             CAST(COUNT(*) FILTER (is_dup) AS BIGINT) AS para_removed
      FROM pm GROUP BY doc_id
    ),
    {_SQL_SPAN_BASE},
    {_SQL_SPAN_IV_CTES}
    SELECT d.doc_id,
           CAST(len({toks}) AS BIGINT) AS total_tokens,
           exc.n_copies AS exact_copies,
           exc.n_copies >= 2 AS is_exact_dup,
           pd.n_paras,
           pd.para_removed,
           CAST(COALESCE(sp.dup_tokens, 0) AS BIGINT) AS span_dup_tokens,
           CASE WHEN exc.n_copies >= 2 THEN 'document'
                WHEN pd.para_removed > 0 THEN 'paragraph'
                WHEN COALESCE(sp.dup_tokens, 0) > 0 THEN 'span'
                ELSE 'clean' END AS coarsest_dup_rung
    FROM documents d
    JOIN ex USING (doc_id)
    JOIN exc USING (fp)
    JOIN pd USING (doc_id)
    LEFT JOIN per_doc sp USING (doc_id)
    """


@register(
    "dedup_ladder_audit",
    oracle=_ladder_oracle,
    doc="DEDUP-LADDER AUDIT capstone — the per-document table that "
    "prices the exact-match granularity ladder as a WHOLE (the "
    "corpus_datasheet pattern for dedup): for every document, its "
    "exact-copy count (md5 fingerprint groups), its paragraph-dedup "
    "exposure (windows removed by the >= 2-doc rule), its span-dedup "
    "exposure (interval-union tokens from the maximal-span kernel), "
    "and the COARSEST rung that catches it — document > paragraph > "
    "span > clean. This is the table that answers 'what does each "
    "additional dedup layer buy on this corpus': every doc a finer "
    "rung catches that coarser rungs miss is that layer's marginal "
    "value. Composes three already-audited kernels (fingerprint "
    "groupBy, paragraph_dedup, _span_removal_per_doc) with doc-keyed "
    "shuffle-hash stitches; the fact-scale work is the three linear "
    "kernels themselves — the stitches carry one row per doc. "
    "Ladder containment (document-dup implies full-token span "
    "exposure) is pytest-gated.",
)
def dedup_ladder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_analysis_bigdata__spark.queries_hygiene import (
        paragraph_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ex = docs.select("doc_id", md5s(F.col("text")).alias("fp"))
    exc = ex.groupBy("fp").agg(
        F.count(F.lit(1)).cast("long").alias("exact_copies")
    )
    exact = ex.join(exc.hint("shuffle_hash"), "fp").select(
        "doc_id", "exact_copies"
    )
    pd_ = paragraph_dedup(docs).select(
        "doc_id", "n_paras", F.col("n_removed").alias("para_removed")
    )
    sp = _span_removal_per_doc(spark, sf_dir).select(
        "doc_id", F.col("dup_tokens").alias("span_dup_tokens")
    )
    spine = docs.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("total_tokens")
    )
    out = (
        spine.join(exact.hint("shuffle_hash"), "doc_id")
        .join(pd_.hint("shuffle_hash"), "doc_id")
        .join(sp.hint("shuffle_hash"), "doc_id", "left")
    )
    span_tok = F.coalesce("span_dup_tokens", F.lit(0)).cast("long")
    return out.select(
        "doc_id",
        "total_tokens",
        "exact_copies",
        (F.col("exact_copies") >= 2).alias("is_exact_dup"),
        "n_paras",
        "para_removed",
        span_tok.alias("span_dup_tokens"),
        F.when(F.col("exact_copies") >= 2, "document")
        .when(F.col("para_removed") > 0, "paragraph")
        .when(span_tok > 0, "span")
        .otherwise("clean")
        .alias("coarsest_dup_rung"),
    )


def _ladder_summary_oracle() -> str:
    return f"""
    WITH audit AS ({_ladder_oracle()})
    SELECT coarsest_dup_rung,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(total_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(span_dup_tokens) AS BIGINT) AS span_dup_tokens,
           CAST(SUM(para_removed) AS BIGINT) AS para_windows_removed
    FROM audit GROUP BY coarsest_dup_rung
    """


@register(
    "dedup_ladder_summary",
    oracle=_ladder_summary_oracle,
    doc="The dedup-ladder ECONOMICS table — dedup_ladder_audit rolled "
    "up per coarsest rung: how many documents (and how many tokens of "
    "span-level exposure / paragraph windows) each additional dedup "
    "layer is the FIRST to catch. A 'paragraph' row counts docs the "
    "document rung misses; a 'span' row counts docs both coarser "
    "rungs miss — the marginal-value figures a pipeline owner reads "
    "before paying for a finer (more expensive) rung at 100 TB. One "
    "O(rungs)-row aggregate over the audited composition; oracle = "
    "the audit oracle as a derived table.",
)
def dedup_ladder_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        dedup_ladder_audit(spark, sf_dir)
        .groupBy("coarsest_dup_rung")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("total_tokens").cast("long").alias("total_tokens"),
            F.sum("span_dup_tokens").cast("long").alias("span_dup_tokens"),
            F.sum("para_removed").cast("long").alias(
                "para_windows_removed"
            ),
        )
    )
