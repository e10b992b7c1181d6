"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Times every headline query (one per operator class from SURVEY.md §2 plus the
beyond-reference scale operators) end-to-end with a `noop` sink — full
execution, no driver collect overhead — and prints ONE compact JSON line LAST
on stdout (the driver captures only a 2,000-char tail, so the per-query map
must NOT be on stdout — r6's 85-query map overflowed the capture and the
round's bench record parsed as null):

    {"metric": "headline_queries_total", "value": <raw run total sec>,
     "unit": "sec", "sf": ..., "n_queries": N, "canary_sec": <job-floor>,
     "canary_series": [...], "floor_total_sec": <merged floor total>,
     "queries_file": "BENCH_local.json",
     "canary_norm_total": <value x floor_canary/canary — box-state
      normalized total, r15>, "per_query_file": "BENCH_run.json"}

File protocol (structural floor guard — two consecutive rounds lost their
headline artifact to a loaded end-of-round run overwriting the committed
floor raw, so the raw run NEVER touches the floor file directly):

- ``BENCH_run.json``   — this run's RAW payload (per-query map + canary
  series), overwritten every run. (``--full-sweep`` writes
  ``BENCH_sweep_run.json`` / min-merges ``BENCH_sweep.json`` the same
  way since r15.)
- ``BENCH_local.json`` — the committed FLOOR: element-wise min of every run
  ever merged. bench.py itself performs the merge (``min_merge``), so a
  loaded run can only fail to improve the floor, never inflate it. Queries
  new to the floor join at their raw time; ``--reset-floor name...`` drops
  entries whose semantics deliberately changed so the next run re-floors
  them.

The canary is the min-of-3 time of a near-trivial job (parquet scan +
global top-k sort on `customer`): it measures this box's per-job floor +
current load. It is re-timed (min-of-1) every 10 headline queries and the
full series is emitted, so a mid-run load window (r10: 37 queries inflated
6-40x by external load, invisible to the single start-of-run canary)
self-adjudicates instead of costing a judge session.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default: the CPUs this process may run on).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

# Headline set: every operator class, excluding only the O(n^2) brute-force
# variants (ngram_jaccard, embedding_dups) whose LSH/banded counterparts
# (minhash_pairs, ann_topk) are the scale path being graded.
HEADLINE = [
    "mask_isin",
    "take_rows",
    "boolean_logic",
    "pairwise_arithmetic",
    "parse_json_get",
    "jinja_template",
    "split_hash",
    "classifier_predict",
    "agg_q1",
    "join_q3",
    "local_supply_q5",
    "selective_agg_q6",
    "anti_join",
    "lead_lag",
    "broadcast_join_region",
    "window_topk",
    "sort_topk",
    "distinct_flags",
    "asof_join",
    "events_windowed",
    "sessionize",
    "rollup_counts",
    "heavy_hitters",
    "dedup_exact",
    "minhash_pairs",
    "simhash",
    "ann_topk",
    "text_stats",
    "lang_id",
    "profile_table_hll",
    # r5 additions: graph contraction, curation sweep, deterministic
    # shuffle, and two new join/agg shapes.
    "connected_components",
    "decontaminate",
    "repetition_stats",
    "shuffle_export",
    "order_dist_q13",
    "disjunct_q19",
    # r5: the two heaviest shapes of the completed 22-query TPC-H set —
    # q9 (5-way join + decimal profit agg) and q21 (per-order distinct
    # aggregate replacing the EXISTS/NOT-EXISTS self-join pair).
    "product_profit_q9",
    "waiting_supplier_q21",
    # r5: text-pipeline additions — zero-shuffle chunking, broadcast BM25,
    # TF-IDF featurizer, cross-corpus near dedup, compressed-ANN search.
    "chunk_docs",
    "bm25_search",
    "tfidf",
    "tokenize_ids",
    "chunk_pack",
    "dedup_against_near",
    "ann_pq",
    "dup_windows",
    "semantic_dedup",
    "mix_corpus",
    "canonical_urls",
    "events_hopping",
    "histogram_price",
    "unigram_logprob",
    "pagerank",
    "bm25_many",
    "corr_matrix",
    "snapshot_diff",
    "bigram_logprob",
    "window_anomalies",
    # r5: behavior analytics — single-shuffle funnel fold, retention
    # triangle, and bounded-list RRF fusion over two rankers.
    "funnel_steps",
    "retention_cohorts",
    "hybrid_search",
    "funnel_conversion",
    "fuzzy_pairs",
    "event_transitions",
    "weighted_sample",
    # r6: close the never-benched gaps (r5 verdict item 6) — brute-oracle
    # simhash pairs, LSH/recall ANN variants, sequence packing, corpus
    # cleaning, the streaming-twin interval join batch path — plus the new
    # real-codec queries and a second curation/upsert spread.
    "simhash_pairs_q",
    "ann_lsh",
    "ann_recall",
    "corpus_sequences",
    "clean_corpus",
    "interval_join",
    "image_stats_png",
    "audio_stats_wav",
    "upsert_merge",
    "top_terms",
    "group_cap",
    "domain_stats",
    # r6: real-codec derivatives — perceptual image hash, Y4M frame
    # stats, spectral audio fingerprint, and the avro fallback roundtrip.
    "image_phash",
    "video_stats_y4m",
    "audio_fp",
    "avro_roundtrip",
    # r6: graph + ANN-index additions, perceptual pair queries.
    "triangle_count",
    "ann_ivfpq",
    "image_dups_q",
    "video_dups_q",
    "session_cooccurrence",
    "clustering_coeff",
    "k_core",
    "fluent_pipeline",
    # r7: quality-signal and selection additions — lexical entropy,
    # DSIR importance weights (two-corpus broadcast ratio table), and
    # CCNet paragraph-level dedup.
    "token_entropy",
    "dsir_weights",
    "paragraph_dedup",
    "zipf_fit",
    "ngram_coverage",
    "compression_signals",
    "fluent_quality",
    "corpus_report",
    "expect_rules",
    "quarantine",
    "label_propagation",
    "layout_report",
    "ewma_smooth",
    "contrastive_triplets",
    "source_quality",
    # r8 additions: mixture design, compliance, selection, packing.
    "temperature_mixture",
    "blocklist",
    "pii_report",
    "leakage_safe_split",
    "packing_report",
    "quality_buckets",
    "kcenter_select",
    "gopher_rules",
    # stupid_backoff / perplexity_buckets are the SELF-SCORING LM
    # variants (train and score on the same growing corpus) — their
    # ×40 scale curves (12.9× / 10.1×, BASELINE.md §5) grow on BOTH
    # axes by construction and are NOT the representative scale path;
    # the frozen-LM `_fixed` twins below (2.0× @ ×40) are. Both stay
    # benched so the two-sided-growth outlier remains visible.
    "stupid_backoff",
    # late-r8 surface
    "c4_rules",
    "tokenizer_fertility",
    "corpus_divergence",
    "vocab_growth",
    "centroid_filter",
    "hash_embedding",
    "dedup_report",
    "random_projection",
    "export_manifest",
    "k_anonymity",
    "schema_drift",
    "unicode_normalize",
    "perplexity_buckets",
    "margin_pairs",
    # r9 surface
    "margin_pairs_ann",
    "stupid_backoff_fixed",
    "perplexity_buckets_fixed",
    # r10 surface
    "bpe_encode",
    "dedup_weights",
    "mmr_select",
    "span_corruption",
    "span_corruption_text",
    "winnow_fp",
    "winnow_pairs",
    "containment",
    "data_budget",
    "cdc_dedup",
    "remove_dup_windows",
    # r11 surface: skyline selection, calibration curve, PMI
    # collocations, quality-aware near-dedup representative, and the
    # Kneser-Ney LM pair (self-scored outlier + frozen-train
    # representative, same policy as the stupid_backoff pair).
    "skyline_docs",
    "calibration_curve",
    "pmi_colloc",
    "dedup_keep_best",
    "kneser_ney",
    "kneser_ney_fixed",
    "bm25_index_search",
    # r12 surface: trigram KN pair (self-scored + pruned frozen-train),
    # the ANN index-health monitor, and the MinHash append leg of the
    # index-maintenance trilogy.
    "kneser_ney3",
    "kneser_ney3_pruned",
    "kneser_ney3_modified",
    "recall_probe",
    "minhash_append",
    # r12: the converted distributed-PCA gate (hash-graded since r12);
    # stats pass + broadcast projection, floors with the rest.
    "umap_pca",
    # r13: the monitor→action loop closed — frozen-index probe fires,
    # one ann_index_retrain re-fit + re-encode brings the same probe
    # back inside the band (two monitor rows, one artifact).
    "ann_retrain",
    # r13: ARPA export of the trigram KN artifact — type-table-bounded
    # section builds (the MODEL, never the corpus) — and the generic
    # ARPA-consumer scorer over those sections (perplexity filtering
    # with any KenLM-built model).
    "kn3_arpa",
    "arpa_score",
    # r14: the order-5 story both ways — the generic consumer scoring
    # the corpus against a synthetic order-5 model with KenLM <s>/</s>
    # markers (9 digest joins), and order-5 interpolated KN TRAINING
    # (one corpus scan for all five gram orders; 5-section ARPA rows,
    # every frame model-bounded) — plus the minhash ingest lifecycle
    # (save → load → append → dedup) promoted into the gate.
    "arpa_score_o5",
    "arpa_score_unk",
    "arpa_filter",
    "kneser_ney5",
    "kneser_ney5_modified",
    "kneser_ney5_pruned",
    "minhash_ingest",
]

# Each query is timed RUNS times and the min reported: a single run folds
# whatever else the box is doing into the number (r4 recorded 7x phantom
# regressions on 0.4s queries that judge re-timing showed unchanged).
RUNS = 3

# Re-time the canary after every CANARY_EVERY headline queries so sustained
# mid-run load shows up as a raised series segment, not a silent inflation.
CANARY_EVERY = 10


def min_merge(floor: dict | None, run: dict) -> dict:
    """Element-wise min-merge a raw bench run into the committed floor.

    Properties the floor protocol depends on (pinned by tests/test_bench_merge.py):

    - A per-query floor entry only ever DECREASES; a loaded run cannot
      inflate it.
    - Queries absent from the floor (new operators) join at their raw run
      time; error sentinels (<= 0) never enter the floor.
    - ``canary_sec`` becomes the min of floor and run canaries (the floor's
      own job-floor estimate); the run's ``canary_series`` is NOT carried
      into the floor — it describes one run's load, not the floor.
    - ``value`` is recomputed as the sum of the merged per-query floors.
    - A floor for a different metric/sf is not comparable: the run replaces it.
    """
    run = {k: v for k, v in run.items() if k != "canary_series"}
    if (
        not floor
        or floor.get("metric") != run.get("metric")
        or floor.get("sf") != run.get("sf")
    ):
        merged = dict(run)
        merged["queries"] = {k: v for k, v in run["queries"].items() if v > 0}
    else:
        q = {k: v for k, v in floor.get("queries", {}).items() if v > 0}
        for k, v in run.get("queries", {}).items():
            if v <= 0:
                continue
            q[k] = min(q[k], v) if k in q else v
        merged = dict(run)
        merged["queries"] = q
        merged["canary_sec"] = round(
            min(floor.get("canary_sec", run["canary_sec"]), run["canary_sec"]), 3
        )
    merged["value"] = round(sum(merged["queries"].values()), 3)
    merged["n_queries"] = len(merged["queries"])
    return merged


def main() -> None:
    import __spark_entry__ as entry_mod
    from krnel_graph_spark.runners.spark_runner import get_spark

    # --full-sweep: time EVERY queries() entry (min-of-1, headline still
    # min-of-RUNS semantics not needed here — the sweep exists to give the
    # 60+ never-benched queries a recorded per-query floor so regressions
    # there become visible, r7 verdict item 5). Writes
    # BENCH_sweep.json and prints the same compact one-line summary.
    full_sweep = "--full-sweep" in sys.argv[1:]

    os.environ.setdefault("SPARK_GRAFT_CPUS", CPUS)
    spark = get_spark("bench")
    queries = entry_mod.queries()

    # Warm up outside the timed region: JVM JIT, parquet reader init, AND
    # the Python UDF worker pool (local[32] forks 32 workers on the first
    # pandas-UDF job — ~1-2s that otherwise lands on whichever query
    # happens to run a kernel first).
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    warm = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    warm.filter(warm.c_custkey > 0).write.format("noop").mode("overwrite").save()
    from pyspark.sql import functions as F  # noqa: N812

    @F.pandas_udf("long")
    def _warm_udf(s):
        return s

    spark.range(10_000).select(_warm_udf("id")).write.format("noop").mode(
        "overwrite"
    ).save()

    def time_df(make_df) -> float:
        best = float("inf")
        for _ in range(RUNS):
            t0 = time.time()
            make_df().write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
            # Queries that persist() intermediates (rollup cascade, minhash
            # signatures) would otherwise accumulate cached copies across
            # reps — drop them so every rep pays the full cost.
            spark.catalog.clearCache()
        return round(best, 3)

    def time_df_once(make_df) -> float:
        t0 = time.time()
        make_df().write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        spark.catalog.clearCache()
        return round(dt, 3)

    # Job-floor canary: scan + global top-k on customer — the cheapest
    # two-stage job shape. Future rounds divide totals by the canary ratio
    # to separate box-load noise from real regressions. Min-of-3 at the
    # start (the headline canary_sec); min-of-1 checkpoints every
    # CANARY_EVERY queries build the load series.
    canary = time_df(lambda: queries["sort_topk"](spark, SF_DIR))
    canary_series = [canary]
    print(f"  [canary sort_topk]: {canary}s", file=sys.stderr)

    names = list(queries) if full_sweep else HEADLINE
    timer = time_df_once if full_sweep else time_df
    timings: dict[str, float] = {}
    for i, name in enumerate(names):
        fn = queries[name]
        try:
            timings[name] = timer(lambda: fn(spark, SF_DIR))
        except Exception as exc:  # sweep records the failure, never dies
            print(f"  {name}: ERROR {type(exc).__name__}", file=sys.stderr)
            timings[name] = -1.0
        else:
            print(f"  {name}: {timings[name]}s", file=sys.stderr)
        if (i + 1) % CANARY_EVERY == 0 or i + 1 == len(names):
            c = time_df_once(lambda: queries["sort_topk"](spark, SF_DIR))
            canary_series.append(c)
            print(f"  [canary @ {i + 1}]: {c}s", file=sys.stderr)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    payload = {
        "metric": "full_sweep_total" if full_sweep else "headline_queries_total",
        "value": round(sum(t for t in timings.values() if t > 0), 3),
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "canary_sec": canary,
        "canary_series": canary_series,
        "queries_file": "BENCH_sweep.json" if full_sweep else "BENCH_local.json",
    }
    run = dict(payload, queries=timings)
    root = Path(__file__).resolve().parent
    if full_sweep:
        # r15: the sweep gets the SAME raw/floor split as the headline
        # bench (r14 had to discard a loaded sweep refresh by hand —
        # min-of-1 snapshots had no merge protocol): raw run ->
        # BENCH_sweep_run.json, BENCH_sweep.json becomes the min-merged
        # floor. The first merge against the pre-protocol snapshot is a
        # plain element-wise min, so the committed floor only improves.
        (root / "BENCH_sweep_run.json").write_text(
            json.dumps(run, indent=1) + "\n"
        )
        floor_path = root / "BENCH_sweep.json"
        floor = None
        if floor_path.exists():
            try:
                floor = json.loads(floor_path.read_text())
            except (json.JSONDecodeError, OSError):
                floor = None
        merged = min_merge(floor, run)
        floor_path.write_text(json.dumps(merged, indent=1) + "\n")
        payload["floor_total_sec"] = merged["value"]
        payload["floor_canary_sec"] = merged["canary_sec"]
    else:
        # Raw run -> BENCH_run.json; floor file only ever min-merged.
        (root / "BENCH_run.json").write_text(json.dumps(run, indent=1) + "\n")
        floor_path = root / "BENCH_local.json"
        floor = None
        if floor_path.exists():
            try:
                floor = json.loads(floor_path.read_text())
            except (json.JSONDecodeError, OSError):
                floor = None
        reset = [a for a in sys.argv[1:] if not a.startswith("--")]
        if floor and reset:
            for name in reset:
                floor.get("queries", {}).pop(name, None)
        merged = min_merge(floor, run)
        floor_path.write_text(json.dumps(merged, indent=1) + "\n")
        payload["floor_total_sec"] = merged["value"]
        payload["floor_canary_sec"] = merged["canary_sec"]
    # r15 (verdict item 1): make round-over-round adjudication self-serve
    # from the one-line JSON alone — additions only, existing keys and
    # their meanings untouched.
    # canary_norm_total rescales this run's raw total by the box-state
    # ratio the canary measured (floor canary / this run's canary): two
    # rounds' normalized totals compare like-for-like even when one run
    # landed on a loaded box. per_query_file names the raw per-query map
    # (never on stdout — it would overflow the driver's 2,000-char tail).
    if payload.get("canary_sec"):
        payload["canary_norm_total"] = round(
            payload["value"]
            * payload.get("floor_canary_sec", payload["canary_sec"])
            / payload["canary_sec"],
            3,
        )
    payload["per_query_file"] = (
        "BENCH_sweep_run.json" if full_sweep else "BENCH_run.json"
    )
    print(json.dumps(run), file=sys.stderr)
    # The compact line must be LAST on stdout and must fit the driver's
    # 2,000-char tail capture.
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
