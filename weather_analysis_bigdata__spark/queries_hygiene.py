"""Corpus-hygiene operator batch: the three training-data-prep moves
the registry still lacked after round 5's serving batch.

1. ``dedup_paragraph_corpus`` — PARAGRAPH-granular deduplication
   (the Dolma / RefinedWeb recipe): documents are segmented into
   deterministic paragraphs, any paragraph appearing in ≥ 2 distinct
   documents is removed from ALL of them, and each document is
   reconstructed from its surviving paragraphs. This closes the one
   text-dedup granularity the engine lacked: document-level
   (dedup_exact_hash / minhash / simhash), span-level
   (dedup_shared_ngram_spans), and now paragraph-level — the unit
   boilerplate actually repeats at (headers, footers, license
   blocks). The synthetic corpus has no newlines, so the segmenter is
   fixed-width (every ``_PARA_W`` tokens); the counting, removal and
   reconstruction semantics are exactly Dolma's, modulo the splitter.
2. ``epoch_shuffle_order`` — deterministic per-epoch global shuffle
   of the corpus (the training-loader contract): epoch e orders docs
   by ``md5('ep' || e || ':' || doc_id)``, and the ordinal of every
   doc in every epoch is assigned WITHOUT a global sort window via
   the two-pass range-bucket + offset algebra
   (functions/distributed.py:two_pass_ordinals) over a composite
   ``epoch·2^61 + key`` integer. Output is the per-epoch permutation
   audit: row counts, distinct-ordinal counts (permutation proof),
   the first five doc_ids in shuffle order, and a full-permutation
   checksum Σ (ordinal+1)·doc_id — any reordering anywhere changes
   it.
3. ``token_budget_pareto`` — token-budget accounting per source:
   total tokens, Pareto rank, exact cumulative share in ppm (integer
   DIV over DECIMAL(38,0) — no floating division anywhere), and the
   minimal-prefix flags for 50% / 90% of the corpus token budget —
   the "which sources do we even need" planning table a 100 TB
   mixture run starts from.

Reference parity note: the reference notebook (Weather_API.py) has
none of this — the batch extends the charter LLM-data-pipeline
surface (SURVEY.md §7.2 M4) along the data-hygiene axis.

Determinism: md5 / integer token counts / DECIMAL(38,0) checksums,
fully tie-broken orderings, identical aliases on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from weather_analysis_bigdata__spark.registry import register
from weather_analysis_bigdata__spark.session import pin
from weather_analysis_bigdata__spark.sources.files import load_table
from weather_analysis_bigdata__spark.streaming.replay import replay_segments
from weather_analysis_bigdata__spark.functions.distributed import (
    two_pass_ordinals,
    two_pass_prefix_sum,
)
from weather_analysis_bigdata__spark.functions.textops import (
    SQL_TOKENS,
    arrow_paragraph_rows,
    hex15_to_long,
    md5s,
    sql_hex15_to_long,
    tokens,
    word_ngrams,
)

# ---------------------------------------------------------------------------
# 1. Paragraph-level dedup (Dolma recipe, fixed-width segmenter)
# ---------------------------------------------------------------------------

#: Paragraph width in tokens. The corpus has no newline structure, so a
#: paragraph is a fixed window of _PARA_W consecutive tokens (last one
#: ragged). With real newline-delimited text the segmenter would be
#: split(text, '\n') and everything downstream is unchanged.
_PARA_W = 8

#: Remove a paragraph once it appears in at least this many DISTINCT
#: documents. 2 = "shared with anyone" (Dolma's duplicate-paragraph
#: rule). Within-document repeats of a unique paragraph are NOT
#: removed — internal repetition is repetition_topgram_filter's axis.
_PARA_MIN_DOCS = 2


def paragraphs(text_col) -> F.Column:
    """Array of fixed-width paragraphs for one document, in order.

    Built shuffle-free and re-eval-safe: the full-window array comes
    from the same zip_with-over-shifted-slices chain as
    functions/textops.py:word_ngrams (an index-lambda ``transform``
    over ``sequence`` would re-evaluate the underlying split(text) per
    element after CollapseProject inlines it — the measured 40×
    cliff), then a positional ``filter`` keeps every _PARA_W-th
    window. The ragged tail (n mod _PARA_W ≠ 0) is one extra slice.
    Local cost is O(n·W) characters of concat — the price of staying
    inside whole-stage codegen instead of posexploding n tokens into
    a shuffle.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    w = _PARA_W
    m = F.greatest(n - (w - 1), F.lit(0))
    grams = F.slice(toks, 1, m)
    for j in range(1, w):
        grams = F.zip_with(
            grams,
            F.slice(toks, 1 + j, m),
            lambda g, t: F.concat(g, F.lit(" "), t),
        )
    full = F.filter(grams, lambda _, i: i % w == 0)
    tail_start = (n - n % w) + 1
    tail = F.when(
        n % w != 0, F.array(F.array_join(F.slice(toks, tail_start, w), " "))
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(full, tail)


def _sql_paragraphs(src: str = "documents", prefix: str = "") -> str:
    """CTE chain ``{prefix}para`` = (doc_id, win_id, para) mirroring
    :func:`paragraphs` — DuckDB list slices clamp at the end, so one
    expression covers full windows and the ragged tail. ``prefix``
    namespaces the CTEs so corpus and batch instantiations coexist."""
    toks = SQL_TOKENS.format(c="text")
    w = _PARA_W
    p = prefix
    return f"""{p}tok AS (
      SELECT doc_id, {toks} AS toks FROM {src}
    ),
    {p}para AS (
      SELECT doc_id, i AS win_id,
             array_to_string(toks[i*{w}+1 : (i+1)*{w}], ' ') AS para
      FROM {p}tok,
           UNNEST(generate_series(
             0, CAST(ceil(len(toks) / {w}.0) AS BIGINT) - 1)) AS g(i)
    )"""


def paragraph_dedup(docs: DataFrame) -> DataFrame:
    """Core paragraph-dedup plan over (doc_id, text) — factored out so
    tests can feed a planted corpus. See dedup_paragraph_corpus.

    The duplicate-detection shuffle is keyed on pid = md5(para) (16
    bytes), not the paragraph STRING — round-6 constant-factor fix:
    the df-count exchange carries fixed-width keys instead of ~50-byte
    text, exactly the economy the incremental/bloom forms already had.
    Only the doc-side regroup still carries text (inherent: the
    reconstruction fingerprint needs the surviving paragraphs)."""
    # Segmentation is the Arrow kernel (one C-speed split per doc)
    # instead of the w-deep zip_with concat chain — guide §4.2;
    # identical rows, see functions/textops.py:arrow_paragraph_rows.
    d = arrow_paragraph_rows(
        docs.select("doc_id", "text"), _PARA_W
    ).withColumn("pid", md5s(F.col("para")))
    dup = (
        d.groupBy("pid")
        .agg(F.countDistinct("doc_id").alias("para_docs"))
        .filter(F.col("para_docs") >= _PARA_MIN_DOCS)
        .select("pid", F.lit(1).alias("_dup"))
    )
    m = d.join(dup, "pid", "left")
    kept = F.col("_dup").isNull()
    kept_struct = F.when(
        kept, F.struct(F.col("win_id").alias("w"), F.col("para").alias("p"))
    )
    return m.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_paras"),
        F.sum(F.when(~kept, 1).otherwise(0)).cast("long").alias("n_removed"),
        F.coalesce(
            F.sum(F.when(kept, F.size(tokens(F.col("para"))))), F.lit(0)
        )
        .cast("long")
        .alias("kept_tokens"),
        md5s(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x["p"],
                ),
                " ",
            )
        ).alias("kept_fp"),
    )


@register(
    "dedup_paragraph_corpus",
    oracle=f"""
    WITH {_sql_paragraphs()},
    dup AS (
      SELECT para FROM para GROUP BY para
      HAVING COUNT(DISTINCT doc_id) >= {_PARA_MIN_DOCS}
    ),
    m AS (
      SELECT p.doc_id, p.win_id, p.para,
             (d.para IS NOT NULL) AS is_dup
      FROM para p LEFT JOIN dup d ON p.para = d.para
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paras,
           CAST(COUNT(*) FILTER (is_dup) AS BIGINT) AS n_removed,
           CAST(COALESCE(SUM(len(regexp_split_to_array(trim(para), '\\s+')))
                         FILTER (NOT is_dup), 0) AS BIGINT) AS kept_tokens,
           md5(COALESCE(string_agg(para, ' ' ORDER BY win_id)
                        FILTER (NOT is_dup), '')) AS kept_fp
    FROM m GROUP BY doc_id
    """,
    doc="PARAGRAPH-granular corpus dedup — the Dolma / RefinedWeb "
    "recipe that closes the text-dedup granularity ladder (document → "
    "paragraph → span): deterministic fixed-width segmentation "
    f"({_PARA_W} tokens; with newline-structured text the splitter "
    "would be '\\n' and nothing downstream changes), a global "
    "DISTINCT-document count per paragraph, removal of every "
    f"paragraph shared by ≥ {_PARA_MIN_DOCS} docs from ALL of them "
    "(order-free, so the result is partitioning-independent — Dolma's "
    "first-seen-wins variant depends on scan order, which a "
    "distributed engine must not), and per-doc reconstruction: "
    "surviving-paragraph text fingerprint, kept token count, removal "
    "counts. Scale: two linear shuffles (paragraph-hash count with "
    "map-side partial agg, doc_id regroup) — the exact-count form of "
    "the pipeline Dolma approximates with a Bloom filter to avoid the "
    "first shuffle; at 100 TB the Bloom variant slots in as a "
    "pre-filter with this exact plan as its correctness yardstick. "
    "The dup-set join is AQE-sized (broadcasts while the shared set "
    "is small).",
)
def dedup_paragraph_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return paragraph_dedup(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


# ---------------------------------------------------------------------------
# 1b. Incremental paragraph dedup vs the PERSISTED paragraph-df index
# ---------------------------------------------------------------------------
def _paragraph_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED corpus paragraph-frequency index (pid = md5(para),
    df = distinct docs containing it) — operators/index_store.py. The
    compact artifact an ingest pipeline maintains so each arriving
    batch joins ~16 B/paragraph of index instead of re-segmenting the
    corpus; the md5 key also means the index never stores corpus TEXT
    (the privacy-friendly form Bloom-filter dedup shares)."""
    from weather_analysis_bigdata__spark.operators.index_store import (
        persisted_index,
    )

    def build() -> DataFrame:
        d = arrow_paragraph_rows(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"),
            _PARA_W,
        )
        return (
            d.select("doc_id", md5s(F.col("para")).alias("pid"))
            .groupBy("pid")
            .agg(F.countDistinct("doc_id").cast("long").alias("df"))
        )

    return persisted_index(spark, sf_dir, f"paragraph_df_w{_PARA_W}", build)


def _prepare_paragraph_index(spark: SparkSession, sf_dir: str) -> None:
    _paragraph_index(spark, sf_dir)


def _paragraph_batch_slices(
    spark: SparkSession, sf_dir: str
) -> list[DataFrame]:
    """The three deterministic arriving-batch slices, separately (the
    streaming drift monitor replays them as ordered micro-batches):
    exact re-submissions, one-token-appended edits, synthetic novel
    docs."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ids = F.col("doc_id").cast("string")
    dup = d.filter(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    edited = d.filter(F.col("doc_id") % 13 == 1).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" px"), ids).alias("text"),
    )
    nv = F.concat(F.lit("nv"), ids)
    novel = d.filter(F.col("doc_id") % 11 == 5).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.repeat(F.concat(nv, F.lit(" ")), 9), nv).alias("text"),
    )
    return [dup, edited, novel]


def _paragraph_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic arriving batch exercising all three decision
    branches: exact re-submissions (every paragraph already indexed),
    one-token-appended edits (full windows known, the tail novel), and
    synthetic novel docs (no paragraph indexed)."""
    dup, edited, novel = _paragraph_batch_slices(spark, sf_dir)
    return dup.unionByName(edited).unionByName(novel)


_SQL_PARA_BATCH = """batch AS (
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 7 = 3
      UNION ALL
      SELECT doc_id + 3000000,
             text || ' px' || CAST(doc_id AS VARCHAR)
      FROM documents WHERE doc_id % 13 = 1
      UNION ALL
      SELECT doc_id + 2000000,
             repeat('nv' || CAST(doc_id AS VARCHAR) || ' ', 9)
               || 'nv' || CAST(doc_id AS VARCHAR)
      FROM documents WHERE doc_id % 11 = 5
    )"""

_PARA_INC_ORACLE = f"""
    WITH {_sql_paragraphs("documents", prefix="c")},
    cidx AS (
      SELECT md5(para) AS pid FROM cpara GROUP BY md5(para)
    ),
    {_SQL_PARA_BATCH},
    {_sql_paragraphs("batch", prefix="b")},
    m AS (
      SELECT b.doc_id, (c.pid IS NOT NULL) AS known
      FROM (SELECT doc_id, md5(para) AS pid FROM bpara) b
      LEFT JOIN cidx c USING (pid)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paras,
           CAST(COUNT(*) FILTER (known) AS BIGINT) AS n_known,
           CAST(COUNT(*) FILTER (NOT known) AS BIGINT) AS n_novel,
           CASE WHEN COUNT(*) FILTER (known) = COUNT(*) THEN 'duplicate'
                WHEN COUNT(*) FILTER (known) > 0 THEN 'partial'
                ELSE 'novel' END AS verdict
    FROM m GROUP BY doc_id
    """


def _incremental_decisions(batch: DataFrame, idx: DataFrame) -> DataFrame:
    """Per-arriving-doc paragraph-dedup decision vs the persisted
    index — the kernel shared by the batch query and the streaming
    replay (so stream ≡ batch is a property of ONE code path)."""
    b = arrow_paragraph_rows(
        batch.select("doc_id", "text"), _PARA_W
    ).select("doc_id", md5s(F.col("para")).alias("pid"))
    m = b.join(idx.select("pid", F.lit(1).alias("_known")), "pid", "left")
    known = F.col("_known").isNotNull()
    n_known = F.sum(F.when(known, 1).otherwise(0)).cast("long")
    return m.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_paras"),
        n_known.alias("n_known"),
        F.sum(F.when(~known, 1).otherwise(0)).cast("long").alias("n_novel"),
        F.when(n_known == F.count(F.lit(1)), "duplicate")
        .when(n_known > 0, "partial")
        .otherwise("novel")
        .alias("verdict"),
    )


@register(
    "dedup_paragraph_incremental",
    oracle=_PARA_INC_ORACLE,
    doc="INCREMENTAL paragraph dedup — the production form of "
    "dedup_paragraph_corpus (the dedup_minhash_incremental pattern, "
    "applied to the paragraph granularity): an arriving batch is "
    "segmented, hashed, and joined against the PERSISTED "
    "paragraph-frequency index (pid = md5(paragraph), df), never "
    "against corpus text; each arriving doc gets a decision — "
    "'duplicate' (every paragraph already known: exact "
    "re-submissions), 'partial' (edited docs whose appended token "
    "rewrites only the ragged tail window), 'novel' — plus the "
    "known/novel paragraph counts an ingest audit logs. The planted "
    "batch exercises all three branches. Scale: batch×index equi-join "
    "on 16-byte hash keys (AQE broadcasts the small side), one "
    "doc-grouped aggregate; the corpus is touched only at index build "
    "time (prepare hook), which is the whole point of maintaining "
    "the index.",
    prepare=_prepare_paragraph_index,
)
def dedup_paragraph_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _incremental_decisions(
        _paragraph_batch(spark, sf_dir), _paragraph_index(spark, sf_dir)
    )


@register(
    "streaming_paragraph_dedup_replay",
    oracle=_PARA_INC_ORACLE,
    doc="The incremental paragraph-dedup kernel RUN BY THE STREAMING "
    "ENGINE: the arriving batch replays as a file stream in 4 "
    "micro-batches; foreachBatch segments/hashes each micro-batch, "
    "joins the same PERSISTED paragraph index via the shared "
    "_incremental_decisions kernel, and publishes batch_id-keyed "
    "overwrite decision segments (idempotent under redelivery — the "
    "at-least-once pattern of streaming_minhash_index_replay). "
    "Registered oracle = dedup_paragraph_incremental's SQL VERBATIM, "
    "so the hash match proves the decision table COMMUTES with "
    "micro-batching — valid because the kernel is doc-local plus a "
    "static index join, and the proof pins exactly that.",
    prepare=_prepare_paragraph_index,
)
def streaming_paragraph_dedup_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    idx = _paragraph_index(spark, sf_dir)
    return replay_segments(
        spark,
        _paragraph_batch(spark, sf_dir),
        lambda bdf, _: _incremental_decisions(bdf, idx),
        "paradedup",
    )


# ---------------------------------------------------------------------------
# 2. Deterministic per-epoch shuffle ordering
# ---------------------------------------------------------------------------

_EPOCHS = 3
_EP_PARTS = 48
_EP_BAND = 1 << 61  # epoch band stride; keynum < 2^60 so bands never mix


def epoch_shuffle(docs: DataFrame) -> DataFrame:
    """Per-(epoch, doc) shuffle ordinals for ``_EPOCHS`` epochs —
    factored for tests. Returns (epoch, doc_id, keynum, ordinal)."""
    e = docs.select(
        "doc_id",
        F.explode(
            F.array(*[F.lit(i).cast("long") for i in range(_EPOCHS)])
        ).alias("epoch"),
    )
    key = md5s(
        F.concat(
            F.lit("ep"),
            F.col("epoch").cast("string"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        )
    )
    k = e.select(
        "epoch", "doc_id", hex15_to_long(key).alias("keynum")
    ).withColumn(
        "ckey", F.col("epoch") * F.lit(_EP_BAND) + F.col("keynum")
    )
    o = two_pass_ordinals(
        k, ["ckey", "doc_id"], _EP_PARTS, ordinal_col="gord",
        total_col="_tot",
    )
    return o.select(
        "epoch",
        "doc_id",
        "keynum",
        (
            F.col("gord")
            - F.col("epoch") * F.expr(f"_tot DIV {_EPOCHS}")
        ).alias("ordinal"),
    )


@register(
    "epoch_shuffle_order",
    oracle=f"""
    WITH e AS (
      SELECT UNNEST(generate_series(0, {_EPOCHS - 1})) AS epoch
    ),
    k AS (
      SELECT epoch, doc_id,
             md5('ep' || CAST(epoch AS VARCHAR) || ':'
                 || CAST(doc_id AS VARCHAR)) AS kh
      FROM documents CROSS JOIN e
    ),
    o AS (
      SELECT epoch, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY epoch
               ORDER BY {sql_hex15_to_long('kh')}, doc_id) - 1 AS ordinal
      FROM k
    )
    SELECT CAST(epoch AS BIGINT) AS epoch,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT ordinal) AS BIGINT) AS n_ordinals,
           CAST(MIN(ordinal) AS BIGINT) AS min_ord,
           CAST(MAX(ordinal) AS BIGINT) AS max_ord,
           CAST(CAST(SUM(CAST(ordinal + 1 AS DECIMAL(19,0))
                         * CAST(doc_id AS DECIMAL(19,0)))
                     AS DECIMAL(38,0)) AS VARCHAR) AS ord_checksum,
           string_agg(CASE WHEN ordinal < 5
                           THEN CAST(doc_id AS VARCHAR) END,
                      ',' ORDER BY ordinal) AS head5
    FROM o GROUP BY epoch
    """,
    doc="Deterministic per-epoch corpus shuffle — the training-loader "
    f"ordering contract: epoch e ({_EPOCHS} epochs) orders documents "
    "by md5('ep'||e||':'||doc_id), a pure function of (epoch, doc), "
    "so every executor, retry, and re-run agrees without coordination "
    "and each epoch is an independent pseudorandom permutation. "
    "Ordinals are assigned WITHOUT a global sort window: one "
    "two-pass range-bucket + broadcast-offset pass "
    "(functions/distributed.py:two_pass_ordinals — the "
    "equi_depth_bins_twopass machinery) over the composite integer "
    "epoch·2^61 + key58, whose total order IS (epoch, key, doc) "
    "order; within-epoch ordinal = global ordinal − epoch·N. The "
    "oracle is the naive per-epoch ROW_NUMBER window — the hash match "
    "proves the offset algebra computes the identical permutation. "
    "Output audits each epoch: distinct-ordinal count == row count "
    "(permutation proof), head-of-order doc_ids, and the "
    "full-permutation checksum Σ(ordinal+1)·doc_id in DECIMAL(38,0), "
    "emitted as its decimal STRING so it stays exact at any corpus "
    "size (a double output boundary would round above 2^53) — any "
    "transposition anywhere changes it. Scale: the only "
    "exchanges carry (epoch, doc_id, key) triples — 24 bytes/row — "
    "and the offset table is O(buckets); this is shard-order "
    "assignment for a 100 TB epoch without sorting 100 TB.",
)
def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = epoch_shuffle(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    head_struct = F.when(
        F.col("ordinal") < 5,
        F.struct(
            F.col("ordinal").alias("o"),
            F.col("doc_id").cast("string").alias("d"),
        ),
    )
    checksum_term = F.expr(
        "CAST(ordinal + 1 AS DECIMAL(19,0)) * CAST(doc_id AS DECIMAL(19,0))"
    )
    return o.groupBy("epoch").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("ordinal").cast("long").alias("n_ordinals"),
        F.min("ordinal").cast("long").alias("min_ord"),
        F.max("ordinal").cast("long").alias("max_ord"),
        F.sum(checksum_term)
        .cast("decimal(38,0)")
        .cast("string")
        .alias("ord_checksum"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(head_struct)), lambda x: x["d"]
            ),
            ",",
        ).alias("head5"),
    )


# ---------------------------------------------------------------------------
# 3. Token-budget Pareto accounting per source
# ---------------------------------------------------------------------------
@register(
    "token_budget_pareto",
    oracle="""
    WITH t AS (
      SELECT source,
             len(regexp_split_to_array(trim(text), '\\s+')) AS ntok
      FROM documents
    ),
    per AS (
      SELECT source, COUNT(*) AS n_docs, SUM(ntok) AS total_toks
      FROM t GROUP BY source
    ),
    r AS (
      SELECT source, n_docs, total_toks,
             ROW_NUMBER() OVER (ORDER BY total_toks DESC, source)
               AS pareto_rank,
             SUM(total_toks) OVER (ORDER BY total_toks DESC, source
                                   ROWS UNBOUNDED PRECEDING) AS cum_toks,
             SUM(total_toks) OVER () AS grand_toks
      FROM per
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_toks AS BIGINT) AS total_toks,
           CAST(pareto_rank AS BIGINT) AS pareto_rank,
           CAST(cum_toks AS BIGINT) AS cum_toks,
           CAST(grand_toks AS BIGINT) AS grand_toks,
           CAST((CAST(total_toks AS HUGEINT) * 1000000) // grand_toks
                AS BIGINT) AS share_ppm,
           CAST((CAST(cum_toks AS HUGEINT) * 1000000) // grand_toks
                AS BIGINT) AS cum_share_ppm,
           CAST((cum_toks - total_toks) * 2 < grand_toks AS INT)
             AS in_p50_head,
           CAST((cum_toks - total_toks) * 10 < 9 * grand_toks AS INT)
             AS in_p90_head
    FROM r
    """,
    doc="Token-budget Pareto table per source — the planning view a "
    "mixture run starts from (how many tokens each source brings, "
    "which minimal source prefix covers 50% / 90% of the budget): "
    "exact integer token totals, Pareto rank (tokens desc, source "
    "tie-break), running cumulative totals, and shares in ppm "
    "computed as integer DIV over DECIMAL(38,0)/HUGEINT — no "
    "floating-point division, so the table is bit-identical on both "
    "engines and at any partitioning. The prefix flags are pure "
    "integer inequalities on (cum − total)·k vs the grand total. "
    "Scale: the windows are global but run over the POST-AGGREGATE "
    "source dimension (O(sources) rows — the crosstab_share class), "
    "never the fact; the fact-side cost is one map-side-combined "
    "count/sum per source. Companion to corpus_temperature_mixture "
    "(which reweights the mixture this table sizes).",
)
def token_budget_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    per = (
        d.select(
            "source", F.size(tokens(F.col("text"))).alias("ntok")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("total_toks"),
        )
    )
    worder = Window.orderBy(F.desc("total_toks"), F.col("source"))
    wcum = worder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    r = per.select(
        "source",
        "n_docs",
        "total_toks",
        F.row_number().over(worder).cast("long").alias("pareto_rank"),
        F.sum("total_toks").over(wcum).cast("long").alias("cum_toks"),
        F.sum("total_toks").over(wall).cast("long").alias("grand_toks"),
    )
    return r.select(
        "source",
        "n_docs",
        "total_toks",
        "pareto_rank",
        "cum_toks",
        "grand_toks",
        F.expr(
            "CAST((CAST(total_toks AS DECIMAL(38,0)) * 1000000)"
            " DIV grand_toks AS BIGINT)"
        ).alias("share_ppm"),
        F.expr(
            "CAST((CAST(cum_toks AS DECIMAL(38,0)) * 1000000)"
            " DIV grand_toks AS BIGINT)"
        ).alias("cum_share_ppm"),
        ((F.col("cum_toks") - F.col("total_toks")) * 2 < F.col("grand_toks"))
        .cast("int")
        .alias("in_p50_head"),
        (
            (F.col("cum_toks") - F.col("total_toks")) * 10
            < 9 * F.col("grand_toks")
        )
        .cast("int")
        .alias("in_p90_head"),
    )


# ---------------------------------------------------------------------------
# 4. Shard manifest: fixed token budgets over the epoch-0 shuffle order
# ---------------------------------------------------------------------------

#: Target tokens per output shard. The boundary rule is contiguous
#: greedy fill: a doc belongs to the shard its EXCLUSIVE cumulative
#: token count lands in, so shards can overrun by at most one doc.
_SHARD_TOKENS = 512


@register(
    "shard_manifest_fixed_tokens",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS ntok,
             md5('ep0:' || CAST(doc_id AS VARCHAR)) AS kh
      FROM documents
    ),
    o AS (
      SELECT doc_id, ntok,
             SUM(ntok) OVER (ORDER BY {sql_hex15_to_long('kh')}, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_toks
      FROM t
    ),
    s AS (
      SELECT *, CAST((cum_toks - ntok) // {_SHARD_TOKENS} AS BIGINT)
               AS shard_id
      FROM o
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS shard_tokens,
           CAST(MIN(cum_toks - ntok) AS BIGINT) AS start_tok,
           CAST(MAX(cum_toks) AS BIGINT) AS end_tok,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY cum_toks))
             AS doc_fp
    FROM s GROUP BY shard_id
    """,
    doc="Deterministic output-shard manifest — the writer-side "
    "artifact a distributed corpus build publishes: docs are taken in "
    "the epoch-0 shuffle order (the SAME md5('ep0:'||doc_id) key "
    "epoch_shuffle_order audits, so shard contents are themselves "
    f"shuffled), filled greedily into contiguous shards of "
    f"~{_SHARD_TOKENS} tokens — shard = exclusive-cumulative-tokens "
    f"DIV {_SHARD_TOKENS}, the split-at-crossing rule, so a shard "
    "overruns by at most one document and start/end offsets tile the "
    "token axis exactly. The global running token count comes from "
    "two_pass_prefix_sum (functions/distributed.py) — the WEIGHTED "
    "generalization of the two_pass_ordinals offset algebra: range "
    "buckets, per-bucket integer weight sums, broadcast exclusive "
    "offsets, bucket-partitioned running window — no global sort "
    "window anywhere; the oracle is the naive global SUM OVER window, "
    "so the hash match proves the weighted offset algebra. Output "
    "per shard: doc/token counts, [start_tok, end_tok) extent, and "
    "the md5 of the in-order doc_id list (what the trainer actually "
    "consumes; per-shard membership is bounded by the token budget, "
    "so the collect_list is O(budget)).",
)
def shard_manifest_fixed_tokens(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("ntok"),
        hex15_to_long(
            md5s(F.concat(F.lit("ep0:"), F.col("doc_id").cast("string")))
        ).alias("keynum"),
    )
    c = two_pass_prefix_sum(
        d, ["keynum", "doc_id"], "ntok", _EP_PARTS, cum_col="cum_toks"
    )
    s = c.withColumn(
        "shard_id", F.expr(f"(cum_toks - ntok) DIV {_SHARD_TOKENS}")
    )
    member = F.struct(
        F.col("cum_toks").alias("c"), F.col("doc_id").cast("string").alias("d")
    )
    return s.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ntok").cast("long").alias("shard_tokens"),
        F.min(F.col("cum_toks") - F.col("ntok")).cast("long").alias(
            "start_tok"
        ),
        F.max("cum_toks").cast("long").alias("end_tok"),
        md5s(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(member)), lambda x: x["d"]
                ),
                ",",
            )
        ).alias("doc_fp"),
    )


# ---------------------------------------------------------------------------
# 5. Curriculum annealing: quality tertiles × epochs
# ---------------------------------------------------------------------------
@register(
    "curriculum_anneal_schedule",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS ntok
      FROM documents
    ),
    q AS (
      SELECT doc_id, ntok,
             CAST(ntile(3) OVER (ORDER BY ntok DESC, doc_id) AS INT)
               AS tertile
      FROM t
    ),
    e AS (SELECT UNNEST(generate_series(0, 2)) AS epoch)
    SELECT CAST(epoch AS BIGINT) AS epoch,
           tertile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS sum_tokens,
           CAST(tertile <= 3 - epoch AS INT) AS kept
    FROM q CROSS JOIN e
    GROUP BY epoch, tertile
    """,
    doc="Curriculum ANNEALING schedule — the midtraining recipe that "
    "composes the CCNet head/middle/tail split with the epoch axis: "
    "docs rank into quality tertiles (1 = head), and successive "
    "epochs restrict the keep-set — epoch 0 trains on all three "
    "tertiles, epoch 1 drops the tail, epoch 2 anneals to the head "
    "only (tertile ≤ 3 − epoch). The quality key here is the doc "
    "token count (desc, tie-broken) — deliberately a self-contained "
    "proxy so the oracle needs no generated literals; swapping in the "
    "persisted bigram-LM NLL of perplexity_tertile_split changes ONE "
    "column. Tertiles come from two_pass_ordinals + the closed-form "
    "ntile bucket (no global sort window; the oracle is SQL-standard "
    "ntile(3), re-proving the distributed split); the epoch axis is "
    "an exploded literal. Output = the (epoch × tertile) training-"
    "budget table with keep flags — what a loader materializes before "
    "a 100 TB anneal run.",
)
def curriculum_anneal_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_analysis_bigdata__spark.functions.distributed import (
        ntile_from_ordinal,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).alias("ntok")
    )
    o = two_pass_ordinals(
        d.withColumn("negtok", -F.col("ntok")),
        ["negtok", "doc_id"],
        32,
        ordinal_col="qord",
        total_col="_n",
    )
    t = o.withColumn(
        "tertile", ntile_from_ordinal(F.col("qord"), F.col("_n"), 3)
    )
    e = t.select(
        "doc_id",
        "ntok",
        "tertile",
        F.explode(
            F.array(*[F.lit(i).cast("long") for i in range(3)])
        ).alias("epoch"),
    )
    return e.groupBy("epoch", "tertile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ntok").cast("long").alias("sum_tokens"),
        F.max(
            (F.col("tertile") <= 3 - F.col("epoch")).cast("int")
        ).alias("kept"),
    )


# ---------------------------------------------------------------------------
# 6. Stateless loader resume: ordinal-window read with bucket pruning
# ---------------------------------------------------------------------------
_RESUME_EPOCH = 1
_RESUME_AT = 100
_RESUME_K = 25


@register(
    "loader_resume_window",
    oracle=f"""
    WITH k AS (
      SELECT doc_id,
             md5('ep{_RESUME_EPOCH}:' || CAST(doc_id AS VARCHAR)) AS kh
      FROM documents
    ),
    o AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (
               ORDER BY {sql_hex15_to_long('kh')}, doc_id) - 1 AS ordinal
      FROM k
    )
    SELECT CAST(ordinal AS BIGINT) AS ordinal,
           doc_id,
           CAST(ordinal - {_RESUME_AT} AS BIGINT) AS batch_pos
    FROM o
    WHERE ordinal >= {_RESUME_AT}
      AND ordinal < {_RESUME_AT + _RESUME_K}
    """,
    doc="STATELESS training-loader resume — read docs "
    f"[{_RESUME_AT}, {_RESUME_AT + _RESUME_K}) of epoch "
    f"{_RESUME_EPOCH}'s shuffle order from nothing but the checkpoint "
    "ordinal, because the epoch order is a pure md5 function of "
    "(epoch, doc_id) (epoch_shuffle_order's contract). The scale move "
    "is ORDINAL PUSHDOWN through the two-pass algebra: after the "
    "O(parts) bucket-count/offset pass, buckets whose ordinal span "
    "[offset, offset+count) misses the resume window are PRUNED "
    "before the rank window runs — the sort-and-rank work touches "
    "only the ~1 bucket overlapping the window, so resuming at "
    "ordinal 10^9 of a 100 TB epoch costs one boundary-sketch pass "
    "plus one bucket's rows, not a global sort. The oracle is the "
    "naive global ROW_NUMBER + filter; the hash match proves pruning "
    "changes nothing.",
)
def loader_resume_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_analysis_bigdata__spark.functions.distributed import (
        exclusive_prefix_offsets,
        range_bucketed,
    )

    lo, hi = _RESUME_AT, _RESUME_AT + _RESUME_K
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        hex15_to_long(
            md5s(
                F.concat(
                    F.lit(f"ep{_RESUME_EPOCH}:"),
                    F.col("doc_id").cast("string"),
                )
            )
        ).alias("keynum"),
    )
    b = range_bucketed(d, "keynum", _EP_PARTS)
    counts = b.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    offsets = exclusive_prefix_offsets(counts, "_pid", "_n", "_off")
    # Ordinal pushdown: keep only buckets overlapping [lo, hi).
    live = (
        offsets.join(counts, "_pid")
        .filter((F.col("_off") < hi) & (F.col("_off") + F.col("_n") > lo))
        .select("_pid", "_off")
    )
    w = Window.partitionBy("_pid").orderBy("keynum", "doc_id")
    return (
        b.join(F.broadcast(live), "_pid")
        .withColumn(
            "ordinal",
            (F.col("_off") + F.row_number().over(w) - 1).cast("long"),
        )
        .filter((F.col("ordinal") >= lo) & (F.col("ordinal") < hi))
        .select(
            "ordinal",
            "doc_id",
            (F.col("ordinal") - lo).cast("long").alias("batch_pos"),
        )
    )


# ---------------------------------------------------------------------------
# 7. Concat-and-chunk sequence boundaries (the attention-mask manifest)
# ---------------------------------------------------------------------------

#: Training sequence length for the concat-and-chunk packer.
_SEQ_LEN = 256


@register(
    "pack_concat_chunk_boundaries",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS ntok,
             md5('ep0:' || CAST(doc_id AS VARCHAR)) AS kh
      FROM documents
    ),
    o AS (
      SELECT doc_id, ntok,
             SUM(ntok) OVER (ORDER BY {sql_hex15_to_long('kh')}, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    ),
    seg AS (
      SELECT s.seq_id, doc_id,
             GREATEST(cum - ntok, s.seq_id * {_SEQ_LEN})
               - s.seq_id * {_SEQ_LEN} AS seg_start,
             LEAST(cum, (s.seq_id + 1) * {_SEQ_LEN})
               - s.seq_id * {_SEQ_LEN} AS seg_end
      FROM o, UNNEST(generate_series(
               CAST((cum - ntok) // {_SEQ_LEN} AS BIGINT),
               CAST((cum - 1) // {_SEQ_LEN} AS BIGINT))) AS s(seq_id)
    )
    SELECT CAST(seq_id AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(seg_end - seg_start) AS BIGINT) AS filled_tokens,
           md5(string_agg(
                 CAST(doc_id AS VARCHAR) || ':'
                   || CAST(seg_start AS VARCHAR) || ':'
                   || CAST(seg_end AS VARCHAR),
                 ',' ORDER BY seg_start)) AS boundary_fp
    FROM seg GROUP BY seq_id
    """,
    doc="CONCAT-AND-CHUNK packing boundaries — the attention-mask "
    "manifest (the complement of pack_sequences_fixed_budget, which "
    "packs whole docs): the GPT-pretraining packer concatenates the "
    "token stream in epoch-0 shuffle order and chops it every "
    f"{_SEQ_LEN} tokens, so documents STRADDLE sequences; what the "
    "loader needs alongside the token shards is, per training "
    "sequence, the within-sequence [start, end) span of every "
    "document fragment — that is what cross-document attention "
    "masking and loss-boundary bookkeeping consume. Each doc's global "
    "token interval [cum−ntok, cum) comes from two_pass_prefix_sum "
    "(no global window); the doc→sequence fan-out explodes only "
    "ntok/seq_len + 1 rows per doc, and the per-sequence fingerprint "
    "aggregates at most seq_len fragments. Output: per sequence, the "
    "fragment/doc counts, fill (== seq_len except the final ragged "
    "sequence — a tested invariant), and the md5 of the ordered "
    "doc:start:end list. The oracle is the naive global SUM OVER "
    "window + the same interval algebra.",
)
def pack_concat_chunk_boundaries(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("ntok"),
        hex15_to_long(
            md5s(F.concat(F.lit("ep0:"), F.col("doc_id").cast("string")))
        ).alias("keynum"),
    )
    c = two_pass_prefix_sum(
        d, ["keynum", "doc_id"], "ntok", _EP_PARTS, cum_col="cum"
    )
    lo = F.col("cum") - F.col("ntok")
    s = c.select(
        "doc_id",
        lo.alias("lo"),
        F.col("cum").alias("hi"),
        # Guarded for ntok = 0: Spark's sequence(start, start-1) yields
        # a DESCENDING 2-element array while DuckDB's generate_series is
        # empty — an engine divergence. Unreachable today (the tokenizer
        # yields >= 1 token for any text) but latent if the tokenizer
        # changes (round-5 advice).
        F.explode(
            F.when(
                F.col("ntok") > 0,
                F.sequence(
                    F.expr(f"(cum - ntok) DIV {_SEQ_LEN}"),
                    F.expr(f"(cum - 1) DIV {_SEQ_LEN}"),
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("seq_id"),
    )
    seq_lo = F.col("seq_id") * _SEQ_LEN
    seg_start = F.greatest(F.col("lo"), seq_lo) - seq_lo
    seg_end = F.least(F.col("hi"), seq_lo + _SEQ_LEN) - seq_lo
    seg = s.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        "doc_id",
        seg_start.cast("long").alias("seg_start"),
        seg_end.cast("long").alias("seg_end"),
    )
    frag = F.struct(
        F.col("seg_start").alias("s"),
        F.concat_ws(
            ":",
            F.col("doc_id").cast("string"),
            F.col("seg_start").cast("string"),
            F.col("seg_end").cast("string"),
        ).alias("f"),
    )
    return seg.groupBy("seq_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.sum(F.col("seg_end") - F.col("seg_start"))
        .cast("long")
        .alias("filled_tokens"),
        md5s(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(frag)), lambda x: x["f"]
                ),
                ",",
            )
        ).alias("boundary_fp"),
    )


# ---------------------------------------------------------------------------
# 8. Postings compaction: merge upsert + tombstone segments into the base
# ---------------------------------------------------------------------------
@register(
    "postings_index_compact",
    oracle="""
    WITH basetf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents)
      GROUP BY doc_id, term
    ),
    basedf AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(tf) AS BIGINT) AS tf FROM basetf GROUP BY term
    ),
    batchtf AS (
      SELECT doc_id + 1000000 AS doc_id, term, COUNT(*) AS tf FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(
                 trim(text || ' nw' || CAST(doc_id AS VARCHAR)),
                 '\\s+')) AS term
        FROM documents WHERE doc_id % 25 = 4)
      GROUP BY doc_id, term
    ),
    delta AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df_delta
      FROM batchtf GROUP BY term
    ),
    removed AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df_removed
      FROM basetf WHERE doc_id % 10 = 3 GROUP BY term
    ),
    touched AS (
      SELECT term FROM delta UNION SELECT term FROM removed
    ),
    rebuild AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(tf) AS BIGINT) AS tf
      FROM (SELECT * FROM basetf WHERE doc_id % 10 <> 3
            UNION ALL SELECT * FROM batchtf)
      GROUP BY term
    )
    SELECT t.term,
           COALESCE(b.df, 0) AS df_before,
           COALESCE(d.df_delta, 0) AS df_delta,
           COALESCE(r.df_removed, 0) AS df_removed,
           COALESCE(rb.df, 0) AS df_after,
           COALESCE(rb.tf, 0) AS tf_after,
           CAST(4 * (COALESCE(d.df_delta, 0) + COALESCE(r.df_removed, 0))
                > COALESCE(b.df, 0) AS INT) AS compacted
    FROM touched t
    LEFT JOIN basedf b USING (term)
    LEFT JOIN delta d USING (term)
    LEFT JOIN removed r USING (term)
    LEFT JOIN rebuild rb USING (term)
    """,
    doc="Inverted-index COMPACTION — the maintenance step completing "
    "the text-side lifecycle exactly as ivf_index_compact completed "
    "the vector side (build → upsert → delete → COMPACT): after the "
    "upsert segment (postings_index_upsert's batch, every 25th doc "
    "re-id'd, plus one novel per-doc token so the new-term branch "
    "executes at every SF) and the tombstone segment (postings_index_delete's set, "
    "every 10th doc — mod-5-disjoint from the batch by construction), "
    "each touched term is either REWRITTEN into the base (merged "
    "stats, segments dropped) when segment churn crosses the integer "
    "threshold 4·(df_delta + df_removed) > df_base — brand-new terms "
    "always rewrite — or left as base + segments below it. The "
    "Spark side computes post-compaction stats by SEGMENT ARITHMETIC "
    "against the persisted raw index (base + delta − removed, the "
    "corpus never re-tokenized); the oracle computes them by "
    "FROM-SCRATCH REBUILD over (corpus − deleted) ∪ batch — the hash "
    "match is the proof that compaction preserves every served "
    "statistic, the same merge ≡ rebuild algebra the upsert/delete "
    "queries pinned, now with both segment kinds live at once. "
    "Per-compaction cost: O(touched terms) joins on the term "
    "dictionary; output = the decision log (which terms rewrote, "
    "df/tf before and after).",
)
def postings_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_analysis_bigdata__spark.queries_round4 import (
        _raw_postings,
        _UP_MOD,
        _UP_REM,
    )
    from weather_analysis_bigdata__spark.queries_round5 import (
        _PDEL_MOD,
        _PDEL_REM,
    )

    raw = _raw_postings(spark, sf_dir)
    base = raw.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df_before"),
        F.sum("tf").cast("long").alias("tf_base"),
    )
    batch = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _UP_MOD == _UP_REM)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.explode(
                tokens(
                    F.concat(
                        F.col("text"),
                        F.lit(" nw"),
                        F.col("doc_id").cast("string"),
                    )
                )
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    delta = batch.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df_delta"),
        F.sum("tf").cast("long").alias("tf_delta"),
    )
    removed = (
        raw.filter(F.col("doc_id") % _PDEL_MOD == _PDEL_REM)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df_removed"),
            F.sum("tf").cast("long").alias("tf_removed"),
        )
    )
    touched = (
        delta.join(removed, "term", "full")
        .select(
            "term",
            F.coalesce("df_delta", F.lit(0)).alias("df_delta"),
            F.coalesce("tf_delta", F.lit(0)).alias("tf_delta"),
            F.coalesce("df_removed", F.lit(0)).alias("df_removed"),
            F.coalesce("tf_removed", F.lit(0)).alias("tf_removed"),
        )
    )
    # Preserved side (touched) is the SMALL side — it can't be the
    # broadcast build of a left join (build-right only for LeftOuter;
    # a left-side hint is silently ignored, round-8 verdict item 1).
    # Semi-filter the big dictionary to the touched terms (broadcast
    # semi, base never shuffles), then left-join against the now-tiny
    # slice broadcast on the supported side. touched feeds BOTH joins
    # — pinned once (eager localCheckpoint, O(touched terms) rows) so
    # Catalyst doesn't execute the delta⋈removed merge twice.
    touched = touched.transform(pin)
    base_touched = base.join(
        F.broadcast(touched.select("term")), "term", "semi"
    )
    return (
        touched
        .join(F.broadcast(base_touched), "term", "left")
        .select(
            "term",
            F.coalesce("df_before", F.lit(0)).alias("df_before"),
            "df_delta",
            "df_removed",
            (
                F.coalesce("df_before", F.lit(0))
                + F.col("df_delta")
                - F.col("df_removed")
            )
            .cast("long")
            .alias("df_after"),
            (
                F.coalesce("tf_base", F.lit(0))
                + F.col("tf_delta")
                - F.col("tf_removed")
            )
            .cast("long")
            .alias("tf_after"),
            (
                4 * (F.col("df_delta") + F.col("df_removed"))
                > F.coalesce("df_before", F.lit(0))
            )
            .cast("int")
            .alias("compacted"),
        )
    )


# ---------------------------------------------------------------------------
# 1c. Bloom-filter paragraph dedup (the Dolma production form) + audit
# ---------------------------------------------------------------------------
#: Sketch size (position space) for the paragraph Bloom/count-min side.
#: Sized SMALL on purpose (the bloom_filter_membership convention) so
#: false drops actually occur at test SFs and the audit prices a real
#: approximation, not a vacuous fp=0. Production sizes m from the
#: standard -n·ln(p)/ln(2)^2 formula; m is the ONLY memory the filter
#: ever holds, independent of corpus size — that is Dolma's point.
_PB_M = 32768
#: Hash functions per paragraph.
_PB_K = 3


def _pb_pos(pid_col: F.Column, i: int) -> F.Column:
    return (
        hex15_to_long(md5s(F.concat(F.lit(f"pb{i}:"), pid_col))) % _PB_M
    )


def _pb_pos_sql(pid_expr: str, i: int) -> str:
    h = sql_hex15_to_long(f"md5('pb{i}:' || {pid_expr})")
    return f"({h} % {_PB_M})"


def _pb_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED paragraph count-sketch: (pos, cnt) where cnt = number
    of DISTINCT (doc, paragraph) pairs hashing a position — a counting
    Bloom filter as data, ≤ _PB_M rows no matter the corpus size. The
    estimate min over a paragraph's _PB_K positions is ≥ its true
    document frequency (every distinct doc containing it incremented
    each of its positions), so the Bloom decision NEVER misses a true
    duplicate; collisions only over-estimate — i.e. false DROPS — which
    is exactly the Bloom-dedup trade Dolma ships."""
    from weather_analysis_bigdata__spark.operators.index_store import (
        persisted_index,
    )

    def build() -> DataFrame:
        dp = (
            arrow_paragraph_rows(
                load_table(spark, sf_dir, "documents").select(
                    "doc_id", "text"
                ),
                _PARA_W,
            )
            .select("doc_id", md5s(F.col("para")).alias("pid"))
            .distinct()
        )
        return (
            dp.select(
                F.explode(
                    F.array(
                        *[_pb_pos(F.col("pid"), i) for i in range(_PB_K)]
                    )
                ).alias("pos")
            )
            .groupBy("pos")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )

    return persisted_index(
        spark, sf_dir, f"paragraph_bloom_m{_PB_M}k{_PB_K}", build
    )


def _prepare_pb_sketch(spark: SparkSession, sf_dir: str) -> None:
    _pb_sketch(spark, sf_dir)


#: Shared SQL fragments: the sketch and per-paragraph df estimate,
#: recomputed from scratch in the oracle (deterministic ≡ the persisted
#: index). `para` CTE must already be in scope via _sql_paragraphs().
_SQL_PB_EST = f"""dp AS (
      SELECT DISTINCT doc_id, md5(para) AS pid FROM para
    ),
    pcnt AS (
      SELECT pos, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        {' UNION ALL '.join(f"SELECT {_pb_pos_sql('pid', i)} AS pos FROM dp" for i in range(_PB_K))}
      ) GROUP BY pos
    ),
    pids AS (SELECT DISTINCT md5(para) AS pid FROM para),
    est AS (
      SELECT pid, MIN(cnt) AS est_df FROM (
        {' UNION ALL '.join(f"SELECT pid, {_pb_pos_sql('pid', i)} AS pos FROM pids" for i in range(_PB_K))}
      ) p JOIN pcnt USING (pos) GROUP BY pid
    )"""


def _pb_estimates(docs: DataFrame, pcnt: DataFrame) -> DataFrame:
    """(pid, est_df) for every distinct paragraph of ``docs`` via the
    sketch: min over the _PB_K position counts. ``pcnt`` is ≤ _PB_M
    rows — always broadcastable, the filter IS the only global state.

    LEFT join + coalesce-to-0 (round-6 advice): a probed position
    absent from the sketch means its count is 0, so the min — and the
    paragraph's estimated df — is 0. An inner join would silently
    inflate the min (or drop the pid entirely). Unreachable when
    probing the corpus that built the sketch (every position was
    incremented), but load-bearing the moment an ARRIVING batch is
    probed against a prior corpus's sketch — the incremental direction
    the near-dup rung already takes."""
    pids = (
        arrow_paragraph_rows(docs.select("text"), _PARA_W)
        .select(md5s(F.col("para")).alias("pid"))
        .distinct()
    )
    ppos = pids.select(
        "pid",
        F.explode(
            F.array(*[_pb_pos(F.col("pid"), i) for i in range(_PB_K)])
        ).alias("pos"),
    )
    return (
        ppos.join(F.broadcast(pcnt), "pos", "left")
        .groupBy("pid")
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("long")
            .alias("est_df")
        )
    )


@register(
    "dedup_paragraph_bloom",
    oracle=f"""
    WITH {_sql_paragraphs()},
    {_SQL_PB_EST},
    m AS (
      SELECT p.doc_id, p.win_id, p.para,
             (e.est_df >= {_PARA_MIN_DOCS}) AS is_dropped
      FROM para p JOIN est e ON md5(p.para) = e.pid
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paras,
           CAST(COUNT(*) FILTER (is_dropped) AS BIGINT) AS n_removed,
           CAST(COALESCE(SUM(len(regexp_split_to_array(trim(para), '\\s+')))
                         FILTER (NOT is_dropped), 0) AS BIGINT)
             AS kept_tokens,
           md5(COALESCE(string_agg(para, ' ' ORDER BY win_id)
                        FILTER (NOT is_dropped), '')) AS kept_fp
    FROM m GROUP BY doc_id
    """,
    doc="BLOOM-FILTER paragraph dedup — the production form of "
    "dedup_paragraph_corpus (the form Dolma actually runs at scale): "
    "duplicate-paragraph decisions come from a COUNTING-BLOOM sketch "
    f"(min over {_PB_K} hashed position counts, {_PB_M} positions "
    "total) instead of exact per-paragraph document-frequency counts. "
    "The min-estimate provably DOMINATES the true df (every distinct "
    "doc containing a paragraph incremented all its positions), so no "
    "true duplicate is ever missed; hash collisions only over-estimate "
    "— unique paragraphs falsely dropped — the exact trade a Bloom "
    "dedup accepts, priced by dedup_paragraph_bloom_audit against the "
    "exact-count yardstick. Scale: the sketch is the ONLY global "
    "state, ≤ m rows / m·8 B regardless of corpus size (vs a "
    "16 B-per-distinct-paragraph exact index), persisted once "
    "(prepare hook) and BROADCAST into the estimate join; the "
    "remaining shuffles carry 16-byte pids (distinct, then the "
    "pid-grained estimate join back to occurrences), never paragraph "
    "text — the exact form's first shuffle moves paragraph STRINGS. "
    "Same output contract as dedup_paragraph_corpus, so the two "
    "results diff directly.",
    prepare=_prepare_pb_sketch,
)
def dedup_paragraph_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    occ = arrow_paragraph_rows(docs, _PARA_W).withColumn(
        "pid", md5s(F.col("para"))
    )
    est = _pb_estimates(docs, _pb_sketch(spark, sf_dir))
    m = occ.join(est, "pid")
    dropped = F.col("est_df") >= _PARA_MIN_DOCS
    kept_struct = F.when(
        ~dropped,
        F.struct(F.col("win_id").alias("w"), F.col("para").alias("p")),
    )
    return m.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_paras"),
        F.sum(F.when(dropped, 1).otherwise(0)).cast("long").alias(
            "n_removed"
        ),
        F.coalesce(
            F.sum(F.when(~dropped, F.size(tokens(F.col("para"))))),
            F.lit(0),
        )
        .cast("long")
        .alias("kept_tokens"),
        md5s(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x["p"],
                ),
                " ",
            )
        ).alias("kept_fp"),
    )


@register(
    "dedup_paragraph_bloom_audit",
    oracle=f"""
    WITH {_sql_paragraphs()},
    {_SQL_PB_EST},
    exact AS (
      SELECT md5(para) AS pid,
             COUNT(DISTINCT doc_id) AS df,
             COUNT(*) AS n_occ
      FROM para GROUP BY md5(para)
    ),
    j AS (
      SELECT x.pid, x.df, x.n_occ, e.est_df
      FROM exact x JOIN est e USING (pid)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
           CAST(COUNT(*) FILTER (df >= {_PARA_MIN_DOCS}) AS BIGINT)
             AS n_dup_exact,
           CAST(COUNT(*) FILTER (est_df >= {_PARA_MIN_DOCS}) AS BIGINT)
             AS n_dropped_bloom,
           CAST(COUNT(*) FILTER (est_df >= {_PARA_MIN_DOCS}
                                 AND df < {_PARA_MIN_DOCS}) AS BIGINT)
             AS n_false_drops,
           CAST(SUM(n_occ) FILTER (est_df >= {_PARA_MIN_DOCS}
                                   AND df < {_PARA_MIN_DOCS}) AS BIGINT)
             AS n_false_drop_occurrences,
           COUNT(*) FILTER (df >= {_PARA_MIN_DOCS}
                            AND est_df < {_PARA_MIN_DOCS}) = 0
             AS no_missed_duplicates,
           CAST((1000000 * COUNT(*) FILTER (est_df >= {_PARA_MIN_DOCS}
                                            AND df < {_PARA_MIN_DOCS}))
                // NULLIF(COUNT(*) FILTER (df < {_PARA_MIN_DOCS}), 0)
             AS BIGINT) AS false_drop_ppm
    FROM j
    """,
    doc="The false-drop-rate audit that prices dedup_paragraph_bloom's "
    "approximation against the exact-count yardstick "
    "(dedup_paragraph_corpus's df counts): per distinct paragraph, "
    "exact df vs sketch estimate — unique paragraphs the Bloom "
    "falsely drops (count, occurrence count, ppm of the unique set) "
    "and the dominance guarantee no_missed_duplicates, which must be "
    "TRUE by construction (min-estimate ≥ df) — a FALSE here means "
    "the sketch kernel itself is broken, the same failing-gate role "
    "the recall floors play for ANN serving. The sketch is sized "
    "small deliberately so n_false_drops > 0 at bench SFs (a "
    "non-vacuous audit); the audit runs BOTH forms by definition "
    "(the lsh_recall_audit pattern), so its cost is the yardstick's, "
    "not the production path's.",
    prepare=_prepare_pb_sketch,
)
def dedup_paragraph_bloom_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    occ = arrow_paragraph_rows(docs, _PARA_W).select(
        "doc_id", md5s(F.col("para")).alias("pid")
    )
    exact = occ.groupBy("pid").agg(
        F.countDistinct("doc_id").cast("long").alias("df"),
        F.count(F.lit(1)).cast("long").alias("n_occ"),
    )
    est = _pb_estimates(docs, _pb_sketch(spark, sf_dir))
    j = exact.join(est, "pid")
    dup_exact = F.col("df") >= _PARA_MIN_DOCS
    dropped = F.col("est_df") >= _PARA_MIN_DOCS
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_paragraphs"),
        F.sum(F.when(dup_exact, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_exact"),
        F.sum(F.when(dropped, 1).otherwise(0))
        .cast("long")
        .alias("n_dropped_bloom"),
        F.sum(F.when(dropped & ~dup_exact, 1).otherwise(0))
        .cast("long")
        .alias("n_false_drops"),
        F.sum(F.when(dropped & ~dup_exact, F.col("n_occ")).otherwise(0))
        .cast("long")
        .alias("n_false_drop_occurrences"),
        (
            F.sum(F.when(dup_exact & ~dropped, 1).otherwise(0)) == 0
        ).alias("no_missed_duplicates"),
        F.expr(
            f"CAST((1000000 * SUM(CASE WHEN est_df >= {_PARA_MIN_DOCS} "
            f"AND df < {_PARA_MIN_DOCS} THEN 1 ELSE 0 END)) DIV "
            f"NULLIF(SUM(CASE WHEN df < {_PARA_MIN_DOCS} THEN 1 ELSE 0 "
            f"END), 0) AS BIGINT)"
        ).alias("false_drop_ppm"),
    )


# ---------------------------------------------------------------------------
# 1d. Paragraph-granularity NEAR-dup (banded MinHash over the windows)
# ---------------------------------------------------------------------------
#: MinHash signature length / LSH bands for the paragraph unit. 8/4
#: (bands of 2) is the same dial point as dedup_minhash_lsh; the
#: shingle unit is BIGRAMS WITHIN the 8-token window so a one-token
#: paragraph edit changes at most 2 of ~7 shingles (J >= 5/9) and
#: still collides, where the exact-hash ladder (dedup_paragraph_*)
#: sees a brand-new pid.
_PN_K = 8
_PN_BANDS = 4
_PN_SH_N = 2
#: Candidate pairs need >= this many agreeing signature rows (est
#: Jaccard >= 1/2) to count as near-duplicates.
_PN_MIN_SIG = 4


def _pn_sig_cols_sql() -> str:
    from weather_analysis_bigdata__spark.queries_llmops import (
        _sql_minhash_cols,
    )

    return _sql_minhash_cols(_PN_K)


def _para_bands(paras: DataFrame) -> DataFrame:
    """Banded MinHash table for DISTINCT paragraphs (pid, para):
    (pid, mh0..mh{k-1}, band_id, band_key) — the queries_llmops.py:401
    banded kernel re-instantiated at paragraph granularity (same
    integer min-hash, same band-key md5, mh columns riding along so
    candidate pairs never join back to signatures). Paragraphs shorter
    than _PN_SH_N tokens have no shingles and drop out here — they can
    only be exact- or novel-classified, never near."""
    sh = paras.select(
        "pid",
        F.explode(
            F.array_distinct(word_ngrams(tokens(F.col("para")), _PN_SH_N))
        ).alias("gram"),
    )
    sig = sh.groupBy("pid").agg(
        *[
            F.min(
                hex15_to_long(
                    md5s(F.concat(F.lit(f"{j}:"), F.col("gram")))
                )
            ).alias(f"mh{j}")
            for j in range(_PN_K)
        ]
    )
    r = _PN_K // _PN_BANDS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                md5s(
                    F.concat_ws(
                        ":",
                        *[
                            F.col(f"mh{b * r + i}").cast("string")
                            for i in range(r)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(_PN_BANDS)
        ]
    )
    return sig.select(
        "pid",
        *[f"mh{j}" for j in range(_PN_K)],
        F.explode(band_structs).alias("band"),
    ).select(
        "pid",
        *[f"mh{j}" for j in range(_PN_K)],
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_key").alias("band_key"),
    )


def _para_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED corpus paragraph band index — the
    dedup_minhash_incremental pattern one granularity down: k×8 B of
    signature + bands per DISTINCT corpus paragraph, maintained once,
    probed by every arriving batch."""
    from weather_analysis_bigdata__spark.operators.index_store import (
        persisted_index,
    )

    def build() -> DataFrame:
        paras = (
            arrow_paragraph_rows(
                load_table(spark, sf_dir, "documents").select("text"),
                _PARA_W,
                with_pos=False,
            )
            .select(md5s(F.col("para")).alias("pid"), "para")
            .distinct()
        )
        return _para_bands(paras)

    return persisted_index(
        spark, sf_dir, f"paragraph_nearband_k{_PN_K}b{_PN_BANDS}", build
    )


def _prepare_para_near(spark: SparkSession, sf_dir: str) -> None:
    _paragraph_index(spark, sf_dir)
    _para_band_index(spark, sf_dir)


def _sql_para_bands(para_cte: str, prefix: str) -> str:
    """CTE chain ``{prefix}bands`` = (pid, mh*, band_id, band_key) over
    DISTINCT paragraphs of ``{para_cte}`` — SQL mirror of
    :func:`_para_bands`."""
    from weather_analysis_bigdata__spark.queries_llmops import (
        _sql_band_keys,
    )

    toks = SQL_TOKENS.format(c="para")
    grams = (
        f"list_distinct(list_transform(generate_series(1, len(toks) - "
        f"{_PN_SH_N - 1}), i -> "
        + " || ' ' || ".join(f"toks[i+{j}]" for j in range(_PN_SH_N))
        + "))"
    )
    p = prefix
    return f"""{p}pp AS (
      SELECT DISTINCT md5(para) AS pid, para FROM {para_cte}
    ),
    {p}sh AS (
      SELECT pid, UNNEST({grams}) AS gram
      FROM (SELECT pid, {toks} AS toks FROM {p}pp) z
    ),
    {p}sig AS (
      SELECT pid, {_pn_sig_cols_sql()} FROM {p}sh GROUP BY pid
    ),
    {p}bands AS (
      {" UNION ALL ".join(
        f"SELECT pid, {b} AS band_id, {key} AS band_key,"
        f" {', '.join(f'mh{j}' for j in range(_PN_K))} FROM {p}sig"
        for b, key in enumerate(_sql_band_keys(_PN_K, _PN_BANDS))
      )}
    )"""


_PN_SHARED_SIG = " + ".join(
    f"CASE WHEN b.mh{j} = c.mh{j} THEN 1 ELSE 0 END" for j in range(_PN_K)
)


def _pn_oracle() -> str:
    return f"""
    WITH {_sql_paragraphs()},
    {_sql_para_bands("para", "c")},
    {_SQL_PARA_BATCH},
    {_sql_paragraphs("batch", prefix="b")},
    cidx AS (SELECT DISTINCT md5(para) AS pid FROM para),
    {_sql_para_bands("bpara", "bb")},
    cand AS (
      SELECT b.pid AS bpid, c.pid AS cpid,
             CAST(COUNT(*) AS BIGINT) AS n_shared_bands,
             CAST(MAX({_PN_SHARED_SIG}) AS BIGINT) AS n_shared_sig
      FROM bbbands b
      JOIN cbands c ON b.band_id = c.band_id AND b.band_key = c.band_key
      WHERE b.pid <> c.pid
      GROUP BY 1, 2
    ),
    near AS (
      SELECT bpid,
             CAST(COUNT(*) AS BIGINT) AS n_near,
             FIRST(cpid ORDER BY n_shared_sig DESC, cpid) AS best_pid,
             CAST(MAX(n_shared_sig) AS BIGINT) AS best_shared_sig
      FROM cand WHERE n_shared_sig >= {_PN_MIN_SIG}
      GROUP BY bpid
    ),
    occ AS (
      SELECT p.doc_id, p.win_id, md5(p.para) AS bpid FROM bpara p
    )
    SELECT o.doc_id, o.win_id, o.bpid,
           COALESCE(n.n_near, 0) AS n_near,
           n.best_pid, n.best_shared_sig,
           CASE WHEN x.pid IS NOT NULL THEN 'exact'
                WHEN n.bpid IS NOT NULL THEN 'near'
                ELSE 'novel' END AS verdict
    FROM occ o
    LEFT JOIN cidx x ON x.pid = o.bpid
    LEFT JOIN near n ON n.bpid = o.bpid
    """


@register(
    "dedup_paragraph_near",
    oracle=_pn_oracle,
    doc="PARAGRAPH-granularity NEAR-dup — closes the gap the round-5 "
    "verdict named: the exact-hash paragraph ladder "
    "(dedup_paragraph_corpus/incremental/bloom) is defeated by a "
    "one-token paragraph edit, so this probes each arriving-batch "
    f"paragraph against the PERSISTED corpus band index (MinHash "
    f"k={_PN_K}, {_PN_BANDS} bands × {_PN_K // _PN_BANDS} — the "
    "queries_llmops banded kernel re-instantiated one granularity "
    f"down, with BIGRAM shingles inside the {_PARA_W}-token window so "
    "a one-token edit preserves >= 5/9 Jaccard and still collides). "
    "Per batch paragraph occurrence: verdict 'exact' (pid already in "
    "the corpus paragraph index), 'near' (>= 1 shared band and >= "
    f"{_PN_MIN_SIG}/{_PN_K} agreeing signature rows against a "
    "DIFFERENT corpus paragraph), or 'novel'; plus candidate count "
    "and the deterministically tie-broken best match. The planted "
    "batch's one-token-appended edits land 'near' on their rewritten "
    "tail window — the exact rows the exact-hash ladder calls "
    "'novel'. Scale: candidate generation is banded (never "
    "all-pairs); the probe joins batch-sized band rows against the "
    "persisted index on (band_id, 16-byte key); signatures ride the "
    "band rows so nothing joins back to text; the same "
    "bucket-cap/band-AND dials as dedup_minhash_bucket_capped apply "
    "unchanged at 100 TB.",
    prepare=_prepare_para_near,
)
def dedup_paragraph_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    batch = _paragraph_batch(spark, sf_dir)
    bocc = arrow_paragraph_rows(
        batch.select("doc_id", "text"), _PARA_W
    ).withColumn("bpid", md5s(F.col("para")))
    bb = _para_bands(
        bocc.select(F.col("bpid").alias("pid"), "para").distinct()
    )
    cb = _para_band_index(spark, sf_dir)
    b, c = bb.alias("b"), cb.alias("c")
    shared_sig = sum(
        F.when(F.col(f"b.mh{j}") == F.col(f"c.mh{j}"), 1).otherwise(0)
        for j in range(_PN_K)
    )
    cand = (
        b.join(
            c,
            (F.col("b.band_id") == F.col("c.band_id"))
            & (F.col("b.band_key") == F.col("c.band_key"))
            & (F.col("b.pid") != F.col("c.pid")),
        )
        .groupBy(
            F.col("b.pid").alias("bpid"), F.col("c.pid").alias("cpid")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared_bands"),
            F.max(shared_sig).cast("long").alias("n_shared_sig"),
        )
    )
    near = (
        cand.filter(F.col("n_shared_sig") >= _PN_MIN_SIG)
        .groupBy("bpid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_near"),
            # deterministic argmax: smallest (-shared_sig, cpid)
            F.min(
                F.struct(
                    (-F.col("n_shared_sig")).alias("neg"),
                    F.col("cpid").alias("cpid"),
                )
            )["cpid"].alias("best_pid"),
            F.max("n_shared_sig").cast("long").alias("best_shared_sig"),
        )
    )
    # The corpus paragraph index is dimension-shaped (16 B/paragraph,
    # bounded by distinct corpus paragraphs) — broadcast is pinned for
    # the test SFs; at 100 TB it graduates to a pid-keyed shuffle-hash
    # join like the decision stitch below.
    cidx = (
        _paragraph_index(spark, sf_dir)
        .select("pid")
        .withColumn("_exact", F.lit(1))
    )
    out = (
        bocc.select("doc_id", "win_id", "bpid")
        .join(F.broadcast(cidx), bocc["bpid"] == cidx["pid"], "left")
        .drop("pid")
        # batch-grained ⋈ batch-grained on the pid key: neither side is
        # broadcastable when the arriving batch is large — shuffle-hash,
        # not sort-merge (both sides are narrow pid-keyed rows).
        .hint("shuffle_hash")
        .join(near, "bpid", "left")
    )
    return out.select(
        "doc_id",
        "win_id",
        "bpid",
        F.coalesce("n_near", F.lit(0)).cast("long").alias("n_near"),
        "best_pid",
        "best_shared_sig",
        F.when(F.col("_exact").isNotNull(), "exact")
        .when(F.col("n_near").isNotNull(), "near")
        .otherwise("novel")
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# 1e. Token-distribution drift between corpus and arriving batch
# ---------------------------------------------------------------------------
#: Hashed token-bucket space for the drift monitor. 256 buckets keeps
#: the distribution table broadcast-sized at any corpus size; the salt
#: decorrelates it from the classifier/LM bucket spaces.
_DRIFT_BUCKETS = 256
_DRIFT_SALT = "drift:"


def _drift_shares(docs: DataFrame) -> DataFrame:
    """(bucket, share_ppm, n) for a documents-shaped frame: each token
    occurrence hashed to one of _DRIFT_BUCKETS buckets, per-bucket
    share of all tokens in exact floor-division ppm."""
    cnt = (
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .select(
            (
                hex15_to_long(
                    md5s(F.concat(F.lit(_DRIFT_SALT), F.col("t")))
                )
                % _DRIFT_BUCKETS
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = cnt.agg(F.sum("n").cast("long").alias("tot"))
    return cnt.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n",
        F.expr("CAST((1000000 * n) DIV tot AS BIGINT)").alias("share_ppm"),
    )


def _sql_drift_shares(src_cte: str, prefix: str) -> str:
    toks = SQL_TOKENS.format(c="text")
    h = sql_hex15_to_long(f"md5('{_DRIFT_SALT}' || t.g)")
    p = prefix
    return f"""{p}cnt AS (
      SELECT {h} % {_DRIFT_BUCKETS} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT {toks} AS toks FROM {src_cte}) z, UNNEST(toks) AS t(g)
      GROUP BY 1
    ),
    {p}sh AS (
      SELECT bucket, n,
             CAST((1000000 * n) // (SELECT SUM(n) FROM {p}cnt) AS BIGINT)
               AS share_ppm
      FROM {p}cnt
    )"""


@register(
    "corpus_drift_tv",
    oracle=f"""
    WITH {_SQL_PARA_BATCH},
    {_sql_drift_shares("documents", "c")},
    {_sql_drift_shares("batch", "b")},
    j AS (
      SELECT COALESCE(c.bucket, b.bucket) AS bucket,
             COALESCE(c.share_ppm, 0) AS c_share,
             COALESCE(b.share_ppm, 0) AS b_share
      FROM csh c FULL OUTER JOIN bsh b ON c.bucket = b.bucket
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(ABS(c_share - b_share)) // 2 AS BIGINT) AS tv_ppm,
           CAST(COUNT(*) FILTER (ABS(c_share - b_share) > 1000)
                AS BIGINT) AS n_drifted_buckets,
           CAST(MAX(ABS(c_share - b_share)) AS BIGINT) AS max_drift_ppm
    FROM j
    """,
    doc="DATA-DRIFT monitor for ingest: total-variation distance (in "
    "exact integer ppm — TV needs no logs, unlike KL, so both engines "
    "compute it bit-identically with floor-division shares) between "
    "the corpus token distribution and an arriving batch's, over "
    f"{_DRIFT_BUCKETS} hashed token buckets, plus the count of "
    "buckets drifted > 1000 ppm and the worst bucket. The planted "
    "batch (the paragraph-dedup arriving batch: exact re-submissions "
    "+ edits + synthetic novel docs with an 'nv…' vocabulary) "
    "genuinely drifts, so the monitor reads non-zero — the alarm a "
    "100 TB ingest wires before letting a crawl snapshot into the "
    "mix. Scale: both sides reduce to a ≤256-row bucket table at the "
    "FIRST map-side-combined aggregate; the totals are 1-row "
    "broadcasts; the full-outer join touches ≤256 rows (SMJ over "
    "buckets is free at that size).",
)
def corpus_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _drift_shares(
        load_table(spark, sf_dir, "documents").select("text")
    ).select("bucket", F.col("share_ppm").alias("c_share"))
    b = _drift_shares(_paragraph_batch(spark, sf_dir)).select(
        "bucket", F.col("share_ppm").alias("b_share")
    )
    j = c.join(b, "bucket", "full").select(
        F.coalesce("c_share", F.lit(0)).alias("c_share"),
        F.coalesce("b_share", F.lit(0)).alias("b_share"),
    )
    diff = F.abs(F.col("c_share") - F.col("b_share"))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.expr(
            "CAST(SUM(ABS(c_share - b_share)) DIV 2 AS BIGINT)"
        ).alias("tv_ppm"),
        F.sum(F.when(diff > 1000, 1).otherwise(0))
        .cast("long")
        .alias("n_drifted_buckets"),
        F.max(diff).cast("long").alias("max_drift_ppm"),
    )


# ---------------------------------------------------------------------------
# 1f. Streaming drift monitor (per-micro-batch TV vs the corpus)
# ---------------------------------------------------------------------------
def _drift_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED corpus token-bucket shares (bucket, n, share_ppm) —
    ≤ _DRIFT_BUCKETS rows, the reference distribution an ingest
    monitor compares every arriving batch against without re-reading
    the corpus."""
    from weather_analysis_bigdata__spark.operators.index_store import (
        persisted_index,
    )

    def build() -> DataFrame:
        return _drift_shares(
            load_table(spark, sf_dir, "documents").select("text")
        )

    return persisted_index(
        spark, sf_dir, f"drift_shares{_DRIFT_BUCKETS}", build
    )


def _prepare_drift_index(spark: SparkSession, sf_dir: str) -> None:
    _drift_index(spark, sf_dir)


def _drift_tv_summary(batch_docs: DataFrame, cshares: DataFrame) -> DataFrame:
    """One summary row of TV drift for an arriving batch against the
    (persisted) corpus shares — the kernel shared by the batch-slice
    oracle mirror and the streaming monitor."""
    b = _drift_shares(batch_docs).select(
        "bucket", F.col("share_ppm").alias("b_share")
    )
    c = cshares.select("bucket", F.col("share_ppm").alias("c_share"))
    j = c.join(b, "bucket", "full").select(
        F.coalesce("c_share", F.lit(0)).alias("c_share"),
        F.coalesce("b_share", F.lit(0)).alias("b_share"),
    )
    diff = F.abs(F.col("c_share") - F.col("b_share"))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.expr("CAST(SUM(ABS(c_share - b_share)) DIV 2 AS BIGINT)").alias(
            "tv_ppm"
        ),
        F.sum(F.when(diff > 1000, 1).otherwise(0))
        .cast("long")
        .alias("n_drifted_buckets"),
        F.max(diff).cast("long").alias("max_drift_ppm"),
    )


def _drift_replay_oracle() -> str:
    slices = [
        "SELECT doc_id + 1000000 AS doc_id, text FROM documents "
        "WHERE doc_id % 7 = 3",
        "SELECT doc_id + 3000000 AS doc_id, "
        "text || ' px' || CAST(doc_id AS VARCHAR) AS text "
        "FROM documents WHERE doc_id % 13 = 1",
        "SELECT doc_id + 2000000 AS doc_id, "
        "repeat('nv' || CAST(doc_id AS VARCHAR) || ' ', 9) "
        "|| 'nv' || CAST(doc_id AS VARCHAR) AS text "
        "FROM documents WHERE doc_id % 11 = 5",
    ]
    ctes = [_sql_drift_shares("documents", "c")]
    rows = []
    for i, sl in enumerate(slices):
        ctes.append(f"slice{i} AS ({sl})")
        ctes.append(_sql_drift_shares(f"slice{i}", f"s{i}"))
        rows.append(f"""
      SELECT CAST({i} AS BIGINT) AS batch_id,
             CAST(COUNT(*) AS BIGINT) AS n_buckets,
             CAST(SUM(ABS(c_share - b_share)) // 2 AS BIGINT) AS tv_ppm,
             CAST(COUNT(*) FILTER (ABS(c_share - b_share) > 1000)
                  AS BIGINT) AS n_drifted_buckets,
             CAST(MAX(ABS(c_share - b_share)) AS BIGINT) AS max_drift_ppm
      FROM (
        SELECT COALESCE(c.share_ppm, 0) AS c_share,
               COALESCE(b.share_ppm, 0) AS b_share
        FROM csh c FULL OUTER JOIN s{i}sh b ON c.bucket = b.bucket
      ) j{i}""")
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + "\n    "
        + "\n    UNION ALL\n    ".join(rows)
    )


@register(
    "streaming_drift_monitor_replay",
    oracle=_drift_replay_oracle,
    doc="The drift monitor RUN BY THE STREAMING ENGINE — per-micro-"
    "batch total-variation drift against the PERSISTED corpus bucket "
    "shares: the three deterministic arriving-batch slices (exact "
    "re-submissions / one-token edits / synthetic novel docs) replay "
    "as THREE ORDERED micro-batches (one mtime-ordered file each, "
    "maxFilesPerTrigger=1 — the interval-join sentinel's file-ordering "
    "device reused for batch identity); foreachBatch computes the "
    "SAME _drift_tv_summary kernel and publishes batch_id-keyed "
    "segments. The oracle is the three per-slice TV computations "
    "UNION ALL'd with literal batch ids, so the hash match proves "
    "per-batch drift is exactly per-slice drift — batch identity "
    "included, not just the multiset of rows. Expected reading: the "
    "re-submission slice drifts least, the novel-vocabulary slice "
    "most. At 100 TB the monitor costs one ≤256-row join per "
    "micro-batch against a broadcast index — the alarm runs at "
    "ingest line rate.",
    prepare=_prepare_drift_index,
)
def streaming_drift_monitor_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cshares = _drift_index(spark, sf_dir)
    return replay_segments(
        spark,
        _paragraph_batch_slices(spark, sf_dir),
        lambda bdf, batch_id: _drift_tv_summary(bdf, cshares).select(
            F.lit(batch_id).cast("long").alias("batch_id"), "*"
        ),
        "driftmon",
    )
