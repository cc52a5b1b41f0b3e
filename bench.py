#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

HEADLINE = [
    "filter_projection",
    "group_agg",
    "window_time_batch",
    "window_sliding_length",
    "window_session",
    "join_windowed_family",  # r7: time x time + length x time tagged union
    "join_stream_table",
    "tpch_q1_pricing",
    "tpch_q3_shipping",
    "tpch_q5ish_revenue",
    "pattern_followed_by",
    "sequence_family",  # r8: every_strict + first_attempt tagged union
    "window_unique",
    "incremental_agg_day",
    "table_upsert_last",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_quality",
    # round 2: training-data pipeline ops as first-class headline entries
    "dedup_clusters",
    "ann_ivf_topk",
    "pipeline_contamination",
    "pipeline_pack",
    "pipeline_chunk_dedup",
    # round 2b: corpus statistics + banding dedup additions
    "text_tfidf_top_terms",
    "text_lm_score",
    "dedup_simhash_hamming",
    "pipeline_chunk_overlap",
    "pipeline_novelty",
    "text_source_stats",
    "pipeline_curate",
    "dedup_containment",
    # round 3: as-of join, hashed-feature classifier, mixture interleave
    "asof_join",
    "text_classifier",
    "pipeline_interleave",
    "tpch_q6_forecast",
    # round 3b: semantic dedup, fuzzy decontamination, percentile stats,
    # quality top-fraction gate, returned-revenue + big-order TPC-H shapes
    "dedup_semantic",
    "pipeline_fuzzy_contamination",
    "text_length_percentiles",
    "pipeline_quality_topfrac",
    "tpch_q10ish_returns",
    "tpch_q18ish_bigorders",
    "pipeline_contamination_gate",
    "pipeline_embed",
    # round 4: quartz-special cron windows (r7: consolidated — the family
    # entry runs ALL five variants), one-call fuzzy dedup, CDC chunking
    "window_cron_family",
    "dedup_fuzzy_keep",
    "pipeline_cdc_chunks",
    # round 5: radius similarity search, word-distribution entropy,
    # exact self-kNN graph (numpy bulk scorer), LIX readability
    "ann_range_search",
    "text_entropy",
    "ann_knn_graph",
    "text_readability",
    # round 5 late: relational event analytics + corpus mixture/zipf stats
    "events_sessionize",
    "events_retention",
    "pipeline_mixture_weights",
    "text_zipf",
    # round 5 late 2: funnel / rolling actives / interval join / z-score
    # anomalies / exact stratified sample / rollup totals
    "events_funnel",
    "events_active_rolling",
    "events_interval_join",
    "events_zscore",
    "pipeline_stratified_sample",
    "text_source_rollup",
    "events_transitions",
    "text_bigram_pmi",
    # round 5 late 3: iterative TextRank, HLL + CMS sketches, exact
    # substring-span dedup
    "text_textrank",
    "events_hll_users",
    "text_hll_shingles",
    "text_cms_heavyhitters",
    "dedup_substring_spans",
    # round 5 late 4: bloom decontamination gate + gopher quality rules
    "pipeline_bloom_contamination",
    "text_gopher_rules",
    # round 5 wave 4: DSIR importance weights, top-k event paths, capped
    # inverted index, per-source KL divergence
    "pipeline_dsir_weights",
    "events_topk_paths",
    "text_inverted_index",
    "text_source_kl",
    # round 5 wave 5: RFM segmentation, co-occurrence lift, image near-dup
    # (real BMP round-trip), product-quantized ANN
    "events_rfm",
    "events_cooccurrence",
    "multimodal_image_neardup",
    "ann_pq_topk",
    # round 5 wave 6: the composed IVF-PQ index + DSIR Gumbel-top-k resample
    # + SQ8 scalar-quantized ANN
    "ann_ivfpq_topk",
    "pipeline_dsir_resample",
    "ann_sq_topk",
    "text_dataset_card",
    "events_attribution",
    # round 5 wave 7: duplication profile + exactly-k sampling
    "dedup_cluster_sizes",
    "pipeline_exact_k_sample",
    "pipeline_quality_budget",
    # round 6: k-means-trained PQ codebooks (the production recall path;
    # training cost = n_iter bounded-sample assignment passes) + Lloyd
    # k-means semantic clustering (the m=1 trainer).
    # Round 7 (VERDICT r6 ask #6): the family's codebooks are trained ONCE
    # (the trained_artifacts section below reports that one-time build's
    # wall clock) and SHARED by the five composed entries via the
    # codebook=/coarse_codebook=/residual_codebook= pass-throughs — the
    # production composition (one trained artifact, many consumers)
    # instead of five independent re-trainings. The oracle-gated queries()
    # entries still train per-query (the oracle replays the full loop);
    # only the bench composition shares. Training wall is Spark JOB-COUNT
    # bound at bench SFs (each Lloyd iteration = one mapInPandas + one
    # skinny agg + a <= m*n_codes collect, ~0.5s of fixed job latency at
    # 5k vectors), so it is reported like control_lifecycle — a one-time
    # section, not a per-query number the min-of-3 would misrepresent.
    "ann_pq_trained_topk",
    "ann_kmeans_clusters",
    "ann_ivfsq_topk",
    "ann_ivfpq_residual",
    "pipeline_cluster_balanced",
    # round 10 (VERDICT r9 ask #6): the bucketed STREAMING window lowering
    # under the headline ledger (92nd row — note the +1 when comparing
    # totals to the r9 map)
    "window_bucketed_stream",
    # late round 10: the one-quant chain kernel's batch entry (93rd row)
    "sequence_quant_chain",
]

_TRAINED_ARTIFACTS: dict[str, dict] = {}


def _trained_family_overrides() -> dict:
    """Bench-composition callables for the trained-ANN family sharing one
    trained artifact set per sf_dir (coarse m=1/8-centroid Lloyd + the
    m=8/32 raw PQ book + the m=8/32 residual book)."""
    from flink_siddhi_spark.llm.pipeline import cluster_balanced_sample
    from flink_siddhi_spark.llm.similarity import (
        ivfpq_topk,
        ivfpq_train,
        pq_encode,
        pq_topk,
        pq_train_codebook,
    )
    from pyspark.sql import functions as F

    def _arts(spark, sf_dir):
        a = _TRAINED_ARTIFACTS.get(sf_dir)
        if a is None:
            embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            coarse = pq_train_codebook(embs, 1, 8, 3)
            fine = pq_train_codebook(embs, 8, 32, 2)
            resid = ivfpq_train(
                embs, m=8, n_codes=32, train_iters=2, coarse_codebook=coarse
            )["residual"]
            a = {"coarse": coarse, "fine": fine, "residual": resid}
            _TRAINED_ARTIFACTS[sf_dir] = a
        return a

    def _embs(spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def train_row(spark, sf_dir):
        a = _arts(spark, sf_dir)
        return spark.createDataFrame(
            [(k, len(v)) for k, v in sorted(a.items())],
            "artifact string, n_entries int",
        )

    def pq_trained(spark, sf_dir):
        embs = _embs(spark, sf_dir)
        return pq_topk(
            embs, embs.filter(F.col("vec_id") < 10), m=8, n_codes=32, k=5,
            codebook=_arts(spark, sf_dir)["fine"],
        )

    def kmeans_clusters(spark, sf_dir):
        embs = _embs(spark, sf_dir)
        return pq_encode(
            embs, 1, codebook=_arts(spark, sf_dir)["coarse"]
        ).select("vec_id", F.col("codes")[0].alias("centroid_id"))

    def ivfpq_residual(spark, sf_dir):
        embs = _embs(spark, sf_dir)
        a = _arts(spark, sf_dir)
        return ivfpq_topk(
            embs, embs.filter(F.col("vec_id") < 10),
            n_centroids=8, n_probe=2, m=8, n_codes=32, k=5,
            residual=True, coarse_codebook=a["coarse"],
            residual_codebook=a["residual"],
        )

    def cluster_balanced(spark, sf_dir):
        return cluster_balanced_sample(
            _embs(spark, sf_dir), per_cluster=20, n_clusters=8,
            codebook=_arts(spark, sf_dir)["coarse"],
        )

    return {
        "ann_trained_codebooks": train_row,
        "ann_pq_trained_topk": pq_trained,
        "ann_kmeans_clusters": kmeans_clusters,
        "ann_ivfpq_residual": ivfpq_residual,
        "pipeline_cluster_balanced": cluster_balanced,
    }


# dedup/ANN family re-run on a 10x-amplified corpus (sf1-equivalent for the
# documents/embeddings tables — /root/testdata has no sf1): exercises skew
# caps, LSH bucket growth, and star-expansion beyond what sf0.1 can. The
# amplified corpus mixes exact duplicates (every 3rd doc copied verbatim)
# and near-duplicates (one extra token) across copies, so duplicate-group
# size AND corpus size grow with the factor.
SCALE_FACTOR = 10
SCALE_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    # round-4: above DENSE_PAIR_AUTOCAP_LIMIT (20k docs; the 10x corpus is
    # 50k) this entry now auto-applies the capped production configuration
    # (llm/dedup.py) — same query name as r3's exact run (170.9s) so the
    # round-over-round delta measures the autocap directly. The exact
    # contract is oracle-gated at sf<=0.1 where it stays untriggered.
    "dedup_simhash_hamming",
    "dedup_clusters",
    "ann_cosine_topk",
    "ann_ivf_topk",
    # linear-by-construction ops: ratio ~0.1 expected (no pair expansion)
    "dedup_semantic",
    "pipeline_fuzzy_contamination",
    # round 4 additions: end-to-end fuzzy dedup composition + CDC chunking
    "dedup_fuzzy_keep",
    "pipeline_cdc_chunks",
    # round 5 late: event-analytics family at 10x (amplified by NEW USERS —
    # the realistic growth axis: per-user history length stays constant, so
    # user-keyed windows/aggregates must scale linearly; a super-linear
    # ratio here means a stage is accidentally global)
    "events_sessionize",
    "events_funnel",
    "events_interval_join",
    "events_transitions",
    # round 5 late 3: substring spans grow with duplicate density (every
    # copied doc's whole text becomes a span — pair-FREE by design, so the
    # ratio should stay linear where containment's pair output exploded);
    # textrank's graph is vocab-bounded (iterations cost ~constant, only
    # the bigram explode scales); the HLL sketch is register-bounded
    "dedup_substring_spans",
    "text_textrank",
    "text_hll_shingles",
    # round 6: above DENSE_PAIR_AUTOCAP_LIMIT (20k images; the 10x corpus
    # is 50k) image near-dup now auto-applies the LSH_AUTOCAP_BUCKET
    # star-cap (VERDICT r5 ask #2) — same query name as r5's exact run
    # (11.9s, ~7.8x over linear) so the round-over-round delta measures
    # the autocap directly. The exact all-pairs contract stays oracle-gated
    # at sf<=0.1 where it is untriggered. PQ is linear (encode pass +
    # two-phase scoring); RFM is user-amplified and must stay linear
    "multimodal_image_neardup",
    "ann_pq_topk",
    "events_rfm",
    # round 5 wave 7: the distributed prefix sum must stay linear — a
    # single-task global cumsum would show up as a super-linear ratio here
    "pipeline_quality_budget",
]
# exact containment at 10x density is the documented pair-output quadratic
# (measured 269s in round 3, SCALE.md) — the scale section now measures the
# PRODUCTION composition instead (exact-dedup first, then containment on
# canonical docs: 91s at the same density) so the round-over-round number
# tracks the pipeline users actually run.


def _amplified_dir(spark, sf_dir: str, factor: int) -> str:
    """Write a deterministic factor-x amplification of documents/embeddings/
    events to a temp dir (the tables the dedup/ANN/event-analytics families
    read). Dir is versioned (_v2 added events) so a stale cache from an
    earlier bench layout regenerates instead of failing the section."""
    import tempfile

    from pyspark.sql import functions as F

    out = os.path.join(tempfile.gettempdir(), f"spark_graft_scale_{factor}x_v2")
    marker = os.path.join(out, "_done")
    if os.path.exists(marker):
        return out
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    copies = []
    for i in range(factor):
        c = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
        if i > 0:
            # every 3rd doc: verbatim copy (exact dup); rest: near-dup
            c = c.withColumn(
                "text",
                F.when(F.col("doc_id") % 3 == 0, F.col("text")).otherwise(
                    F.concat(F.col("text"), F.lit(f" cp{i}"))
                ),
            )
        copies.append(c)
    amplified = copies[0]
    for c in copies[1:]:
        amplified = amplified.unionByName(c)
    amplified.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    ecopies = []
    for i in range(factor):
        c = embs.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10_000_000))
        if i > 0:
            c = c.withColumn(
                "embedding",
                F.when(
                    F.col("vec_id") % 3 == 0, F.col("embedding")
                ).otherwise(
                    F.transform("embedding", lambda x: x + F.lit(float(i) * 1e-3))
                ),
            )
        ecopies.append(c)
    eamp = ecopies[0]
    for c in ecopies[1:]:
        eamp = eamp.unionByName(c)
    eamp.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    # events grow by NEW USERS (ids shifted per copy): per-user history
    # length is invariant, so user-keyed operators should scale linearly
    vcopies = []
    for i in range(factor):
        vcopies.append(
            events.withColumn("user_id", F.col("user_id") + F.lit(i * 10_000_000))
            .withColumn("event_id", F.col("event_id") + F.lit(i * 100_000_000))
        )
    vamp = vcopies[0]
    for c in vcopies[1:]:
        vamp = vamp.unionByName(c)
    vamp.write.mode("overwrite").parquet(f"{out}/events.parquet")
    with open(marker, "w") as f:
        f.write("ok")
    return out


def _streaming_throughput_bench(spark, sf_dir: str) -> dict:
    """Events/sec through the streaming engine (round 6): the reference is
    a streaming CEP system, so the honest comparable is sustained
    throughput of the STATEFUL paths, not just batch wall-clock. Plays the
    sf events table through Structured Streaming (availableNow, noop sink
    so the sink never bounds the measurement) for four representative
    plans: the partitioned CQL pattern (per-key NFA in
    applyInPandasWithState), a CQL tumbling-window aggregate, the
    sessionize twin (native session_window), and the funnel twin
    (horizon-bounded per-user state). Reported: drain wall + events/sec.

    Round 7 adds a SUSTAINED row (``cep_pattern_nfa_10x``): the 100k-event
    drains above are dominated by fixed micro-batch machinery (measured
    floor: a trivial count-only stateful op drains 100k in ~1.7s = 58k
    ev/s, and the pure-JVM windowed aggregate hits the same wall), so they
    measure query startup, not the operator. The 10x rows play 1M events
    through the same plans, where startup amortizes and the incremental
    NFA (resume-from-state + O(new)-per-batch scan + watermark eviction,
    streaming/runtime.py) sets the rate. Round 8 extends the sustained
    section to every stateful op (VERDICT r7 ask #5) and adds the absence
    shape (`-> not X for t`), which runs the round-8 numpy kernel with
    absence-aware eviction."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from flink_siddhi_spark import SiddhiCEP
    from flink_siddhi_spark.analytics import funnel_stream, sessionize_stream

    src = f"{sf_dir}/events.parquet"
    n_events = spark.read.parquet(src).count()
    schema = spark.read.parquet(src).schema
    root = tempfile.mkdtemp(prefix="spark_graft_stream_")

    # untimed warmup (round 11, VERDICT r10 item 6): the section now runs
    # FIRST in its own fresh session, so the first timed drain would
    # otherwise absorb the one-time JVM/Python-worker/codegen startup that
    # the old last-in-session placement paid invisibly. One tiny
    # availableNow drain through the same stateful operator class warms
    # exactly those paths; sf0.001 keeps it sub-second of real work.
    warm_sf = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_sf):
        warm_sf = sf_dir
    try:
        warm_src = f"{warm_sf}/events.parquet"
        warm_schema = spark.read.parquet(warm_src).schema
        warm_stream = (
            spark.readStream.format("parquet").schema(warm_schema)
            .option("pathGlobFilter", "events.parquet").load(warm_sf)
            .withColumn("ts_ms", F.unix_millis(F.col("ts").cast("timestamp")))
        )
        wcep = SiddhiCEP(spark)
        wcep.register_stream(
            "events", warm_stream, "event_id", "user_id", "event_type",
            "value", "ts_ms", ts_field="ts_ms",
        )
        wq = (
            wcep.from_("events").cql(
                "partition with (user_id of events) begin "
                "from every e = events[event_type == 'error'] "
                "  -> not events[event_type == 'purchase'] for 10 min "
                "select e.user_id as user_id, e.event_id as error_id "
                "insert into Out; end"
            ).returns("Out")
            .writeStream.format("noop")
            .option("checkpointLocation", os.path.join(root, "ck_warm"))
            .trigger(availableNow=True)
            .start()
        )
        wq.awaitTermination(300)
    except Exception as ex:  # warmup must never fail the section
        print(f"# streaming warmup failed: {ex}", file=sys.stderr)

    def _read_stream():
        # the file stream source needs a DIRECTORY basePath; sf tables are
        # single files, so stream the parent dir with a glob filter
        return (
            spark.readStream.format("parquet").schema(schema)
            .option("pathGlobFilter", "events.parquet").load(sf_dir)
        )

    def cql_plan(text):
        stream = _read_stream()
        # parquet event times arrive as TIMESTAMP_NTZ; unix_millis needs an
        # instant — the cast reads wall-clock fields in the session zone
        # (UTC), the repo-wide contract
        stream = stream.withColumn(
            "ts_ms", F.unix_millis(F.col("ts").cast("timestamp"))
        )
        cep = SiddhiCEP(spark)
        cep.register_stream(
            "events", stream, "event_id", "user_id", "event_type", "value",
            "ts_ms", ts_field="ts_ms",
        )
        return cep.from_("events").cql(text).returns("Out")

    def plain_stream():
        # withWatermark needs an instant; parquet times are TIMESTAMP_NTZ
        return _read_stream().withColumn("ts", F.col("ts").cast("timestamp"))

    plans = {
        "cep_pattern_nfa": lambda: cql_plan(
            "partition with (user_id of events) begin "
            "from every e = events[event_type == 'error'] "
            "  -> p = events[event_type == 'purchase'] within 1 hour "
            "select e.user_id as user_id, p.event_id as purchase_id "
            "insert into Out; end"
        ),
        "cep_window_agg": lambda: cql_plan(
            "from events#window.timeBatch(1 hour) "
            "select sum(value) as revenue, count() as n insert into Out"
        ),
        "sessionize_stream": lambda: sessionize_stream(
            plain_stream(), watermark="1 hour"
        ),
        "funnel_stream": lambda: funnel_stream(
            plain_stream(), ("view", "click", "purchase"),
            within_ms=3_600_000, watermark="1 hour",
        ),
    }
    out: dict = {"n_events": n_events}
    try:
        # untimed FULL warmup pass of the four 100k plans (round 11): with
        # the section running first in a fresh session, the first timed
        # drains otherwise absorb C2/JIT compilation of the whole
        # parquet -> shuffle -> state-store pipeline (measured 30.8s vs a
        # warm 1.8s on the first cell) and the rows would track JIT, not
        # the documented SS startup latency. Same two-layer warmup
        # doctrine as the headline section.
        for name, build in plans.items():
            try:
                wq = (
                    build().writeStream.format("noop")
                    .option("checkpointLocation",
                            os.path.join(root, f"ck_warm_{name}"))
                    .trigger(availableNow=True)
                    .start()
                )
                wq.awaitTermination(600)
            except Exception as ex:  # warmup must never fail the section
                print(f"# streaming warmup {name} failed: {ex}",
                      file=sys.stderr)
        for name, build in plans.items():
            t0 = time.time()
            q = (
                build().writeStream.format("noop")
                .option("checkpointLocation", os.path.join(root, f"ck_{name}"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(600)
            dt = time.time() - t0
            out[name] = {
                "sec": round(dt, 2),
                "events_per_sec": int(n_events / dt),
            }
        # sustained rows (round 8, VERDICT r7 ask #5): 1M events (10x
        # user-amplified) through EVERY stateful op above, startup amortized
        # — these are the engine's headline rates; the 100k rows above stay
        # as startup-latency tracking. Plus the absence-pattern shape
        # (round-8 kernel + watermark eviction path).
        amp = _amplified_dir(spark, sf_dir, SCALE_FACTOR)
        amp_src = f"{amp}/events.parquet"
        n_amp = spark.read.parquet(amp_src).count()
        amp_schema = spark.read.parquet(amp_src).schema

        def amp_cql_plan(text, buckets=None):
            stream = (
                spark.readStream.format("parquet").schema(amp_schema)
                .load(amp_src)
                .withColumn("ts_ms", F.unix_millis(F.col("ts").cast("timestamp")))
            )
            cep = SiddhiCEP(spark, pattern_key_buckets=buckets)
            cep.register_stream(
                "events", stream, "event_id", "user_id", "event_type",
                "value", "ts_ms", ts_field="ts_ms",
            )
            return cep.from_("events").cql(text).returns("Out")

        def amp_plain_stream():
            return (
                spark.readStream.format("parquet").schema(amp_schema)
                .load(amp_src).withColumn("ts", F.col("ts").cast("timestamp"))
            )

        sustained = {
            "cep_pattern_nfa_10x": lambda: amp_cql_plan(
                "partition with (user_id of events) begin "
                "from every e = events[event_type == 'error'] "
                "  -> p = events[event_type == 'purchase'] within 1 hour "
                "select e.user_id as user_id, p.event_id as purchase_id "
                "insert into Out; end"
            ),
            "cep_pattern_absence_10x": lambda: amp_cql_plan(
                "partition with (user_id of events) begin "
                "from every e = events[event_type == 'error'] "
                "  -> not events[event_type == 'purchase'] for 10 min "
                "select e.user_id as user_id, e.event_id as error_id "
                "insert into Out; end"
            ),
            # the 3-step CQL funnel (run_kernel_chain)
            "cep_pattern_3step_10x": lambda: amp_cql_plan(
                "partition with (user_id of events) begin "
                "from every v = events[event_type == 'view'] "
                "  -> k = events[event_type == 'click'] "
                "  -> p = events[event_type == 'purchase'] within 1 hour "
                "select v.user_id as user_id, p.event_id as purchase_id "
                "insert into Out; end"
            ),
            "cep_window_agg_10x": lambda: amp_cql_plan(
                "from events#window.timeBatch(1 hour) "
                "select sum(value) as revenue, count() as n insert into Out"
            ),
            "sessionize_stream_10x": lambda: sessionize_stream(
                amp_plain_stream(), watermark="1 hour"
            ),
            "funnel_stream_10x": lambda: funnel_stream(
                amp_plain_stream(), ("view", "click", "purchase"),
                within_ms=3_600_000, watermark="1 hour",
            ),
            # round 9 (VERDICT r8 asks #1/#4): the bucketed key-grouping
            # configs — one GroupState visit per key BUCKET instead of per
            # key, amortizing the fixed per-key-visit floor. Same operator
            # semantics (parity-pinned); the per-key rows above stay for
            # round-over-round continuity.
            "cep_pattern_3step_bucketed_10x": lambda: amp_cql_plan(
                "partition with (user_id of events) begin "
                "from every v = events[event_type == 'view'] "
                "  -> k = events[event_type == 'click'] "
                "  -> p = events[event_type == 'purchase'] within 1 hour "
                "select v.user_id as user_id, p.event_id as purchase_id "
                "insert into Out; end",
                buckets=1024,
            ),
            "funnel_stream_bucketed_10x": lambda: funnel_stream(
                amp_plain_stream(), ("view", "click", "purchase"),
                within_ms=3_600_000, watermark="1 hour", key_buckets=1024,
            ),
            # round 10 (VERDICT r9 ask #5): the quantified 2-step shape now
            # dispatches the vectorized quant2 kernel instead of the
            # general per-row NFA (same CQL as the round-9 general-NFA
            # probe; the absence row above also exercises the round-10
            # EventTimeTimeout timer path)
            "cep_pattern_quant_10x": lambda: amp_cql_plan(
                "partition with (user_id of events) begin "
                "from every e = events[event_type == 'error']<1:2> "
                "  -> p = events[event_type == 'purchase'] within 10 min "
                "select e[0].user_id as user_id, p.event_id as purchase_id "
                "insert into Out; end"
            ),
            # late round 10: one quantified INTERIOR stage in a k>=3 chain
            # now dispatches run_kernel_chain_quants (this CQL ran the
            # general per-row NFA before)
            "cep_pattern_quantchain_10x": lambda: amp_cql_plan(
                "partition with (user_id of events) begin "
                "from every e = events[event_type == 'error'] "
                "  -> k = events[event_type == 'click']<1:2> "
                "  -> p = events[event_type == 'purchase'] within 10 min "
                "select e.user_id as user_id, p.event_id as purchase_id "
                "insert into Out; end"
            ),
        }
        for name, build in sustained.items():
            t0 = time.time()
            q = (
                build().writeStream.format("noop")
                .option("checkpointLocation", os.path.join(root, f"ck_{name}"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(1200)
            dt = time.time() - t0
            out[name] = {
                "sec": round(dt, 2),
                "n_events": n_amp,
                "events_per_sec": int(n_amp / dt),
            }
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def _control_lifecycle_bench(spark, n_plans: int = 10) -> dict:
    """Query-manager overhead under dynamic control (round-6 VERDICT ask
    #7): add -> update -> disable/enable -> delete of ``n_plans`` CQL plans
    over a live file stream, each phase draining every enabled plan's
    availableNow sink to completion. Wall-clock per phase — this times the
    MANAGER (compile + sink restart + checkpoint resume), dominated by
    per-plan Structured Streaming sink startup, not by data volume."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from flink_siddhi_spark import SiddhiCEP
    from flink_siddhi_spark.siddhiql.parser import parse_query
    from flink_siddhi_spark.sources.streams import file_stream
    from flink_siddhi_spark.streaming.control import (
        MetadataControlEvent,
        OperationControlEvent,
        to_json,
    )
    from flink_siddhi_spark.streaming.query_manager import QueryManager
    from flink_siddhi_spark.streaming.runtime import StreamingPlanner

    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("name", T.StringType()),
            T.StructField("price", T.DoubleType()),
            T.StructField("timestamp", T.LongType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="spark_graft_ctl_")
    src = os.path.join(root, "in")
    os.makedirs(src)

    def write_file(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def compile_fn(plan_text):
        cep = SiddhiCEP(spark)
        stream = file_stream(spark, src, schema)
        cep.register_stream(
            "s", stream, "id", "name", "price", "timestamp",
            ts_field="timestamp",
        )
        return StreamingPlanner(cep.catalog, cep.extensions).compile_query(
            parse_query(plan_text)
        )

    def sink_fn(qid, df):
        return (
            df.writeStream.format("json")
            .option("path", os.path.join(root, "out", qid))
            .option("checkpointLocation", os.path.join(root, "ck", qid))
            .trigger(availableNow=True)
            .start()
        )

    def tick(qm):
        qm.ensure_running()
        qm.drain(120)

    qm = QueryManager(compile_fn, sink_fn=sink_fn)
    phases: dict = {"n_plans": n_plans}
    try:
        write_file([(i, "x", float(i), 1000 * i) for i in range(1, 101)])
        t0 = time.time()
        qm.on_control_json(to_json(MetadataControlEvent(
            added_execution_plan_map={
                f"p{i}": f"from s[price > {i}.0] select id insert into O{i}"
                for i in range(n_plans)
            })))
        tick(qm)
        phases["add"] = round(time.time() - t0, 3)
        write_file([(i, "y", float(i), 1000 * i) for i in range(101, 201)])
        t0 = time.time()
        qm.on_control_json(to_json(MetadataControlEvent(
            updated_execution_plan_map={
                f"p{i}": f"from s[price > {i + 1}.0] select id insert into O{i}"
                for i in range(n_plans)
            })))
        tick(qm)
        phases["update"] = round(time.time() - t0, 3)
        t0 = time.time()
        for i in range(n_plans):
            qm.on_control_json(to_json(
                OperationControlEvent("DISABLE_QUERY", f"p{i}")))
        phases["disable"] = round(time.time() - t0, 3)
        # the catch-up data lands while the plans are off; writing it is
        # test-fixture work, not manager latency — r6's 5.9s "re-enable
        # cost" was ~4.5s of this parquet write sitting inside the timed
        # region (round-7 decomposition), so it is now excluded
        write_file([(i, "z", float(i), 1000 * i) for i in range(201, 301)])
        t0 = time.time()
        for i in range(n_plans):
            qm.on_control_json(to_json(
                OperationControlEvent("ENABLE_QUERY", f"p{i}")))
        tick(qm)  # every plan resumes from checkpoint and catches up
        phases["enable_catchup"] = round(time.time() - t0, 3)
        phases["disable_enable"] = round(
            phases["disable"] + phases["enable_catchup"], 3
        )
        t0 = time.time()
        qm.on_control_json(to_json(MetadataControlEvent(
            deleted_execution_plan_id=[f"p{i}" for i in range(n_plans)])))
        phases["delete"] = round(time.time() - t0, 3)
        if qm.queries:  # not a bare assert: python -O must not skip this
            raise RuntimeError(
                f"control bench: {len(qm.queries)} plans survived delete"
            )
    finally:
        qm.stop_all()
        shutil.rmtree(root, ignore_errors=True)
    return phases


def _make_session(cpus: str):
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("flink-siddhi-spark-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        # the compiled-class cache defaults to 100 entries; 48 headline
        # queries x several codegen stages each evict everything between a
        # query's warmup and its timed runs, so timed runs would re-pay
        # Janino compilation (observed as broad 1.5-3x noise that grew with
        # the query count)
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # round 9: the bench drains ~12 stateful queries in ONE session;
        # the default state store retains 100 on-heap versions of every
        # state map, so later drains inherit GC pressure from earlier ones
        # (measured 3.4x on the second drain — SCALE.md §Round-9). This is
        # the documented operational setting for key-heavy sessions; with
        # it the streaming rows measure the operator, not the artifact.
        .config("spark.sql.streaming.minBatchesToRetain", "2")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    # Sustained streaming section FIRST, in its OWN SparkSession (round 11,
    # VERDICT r10 item 6): when this section ran last, its rows inherited
    # whatever heap/contention state ~90 batch queries left behind, and two
    # driver runs measured pure-JVM paths 3-5x apart. A dedicated session
    # at process start gives the rows a reproducible environment; the
    # per-query warmup inside the section covers the cold-start delta, and
    # the batch sections below get their own fresh session exactly like
    # before (their warmup layers are unchanged). Timing methodology,
    # queries, and output format are unchanged — only the session the
    # section runs in.
    streaming_result = None
    if os.environ.get("SPARK_GRAFT_STREAM_BENCH", "1") != "0":
        try:
            stream_spark = _make_session(cpus)
            streaming_result = _streaming_throughput_bench(stream_spark, sf_dir)
            stream_spark.stop()
        except Exception as ex:  # must never fail the bench
            print(f"# streaming bench failed: {ex}", file=sys.stderr)

    spark = _make_session(cpus)

    import __spark_entry__ as entrymod

    # untimed JVM/codegen warmup: run every headline query once at the
    # smallest SF. Whole-stage-codegen classes are cached by generated
    # source (schema/operators, not data size), so this compiles the same
    # classes the timed runs need — first-run Janino compilation of the
    # hash-pipeline queries otherwise costs 5-10s of pure compile time and
    # makes min-of-2 numbers JIT-noise-dominated.
    spark.range(1000).selectExpr("sum(id)").collect()
    qs = dict(entrymod.queries())
    # trained-ANN family: bench composition shares one trained artifact set
    # (VERDICT r6 ask #6); the registry callables themselves stay per-query
    qs.update(_trained_family_overrides())
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    # TWO warmup layers (measured round 4):
    # 1. one GLOBAL pass over every headline query at sf0.001 first — JIT
    #    (C2) compiles Spark's scheduler/parquet/codegen infrastructure, so
    #    the first timed queries don't run on a cold JVM (without this the
    #    early entries measure 3-5x high);
    # 2. a PER-QUERY re-warm immediately before each query's timed runs —
    #    whole-stage-codegen classes are cached by generated source, and a
    #    48-query session churns even an enlarged cache, so re-warming
    #    restores the exact classes the timed runs need.
    for name in HEADLINE:
        try:
            qs[name](spark, warm_dir).count()
        except Exception as ex:  # warmup must never fail the bench
            print(f"# warmup {name} failed: {ex}", file=sys.stderr)
    # one-time trained-artifact build (its own section, like
    # control_lifecycle): the five trained-family headline entries reuse
    # these codebooks instead of re-training per entry
    t0 = time.time()
    n_artifacts = qs["ann_trained_codebooks"](spark, sf_dir).count()
    trained_artifacts = {
        "sec": round(time.time() - t0, 2),
        "artifacts": int(n_artifacts),
    }
    timings: dict[str, float] = {}
    counts: dict[str, int] = {}
    # min-of-3 taken over three INTERLEAVED passes (q1..qN, q1..qN, ...):
    # host-level contention is bursty on a shared machine, and separating a
    # query's repeats by minutes decorrelates its three samples from one
    # burst — back-to-back repeats all land inside the same spike and the
    # min is inflated (observed 3-6x on random queries per run). The
    # enlarged codegen cache keeps every query's compiled classes live
    # across passes; pass 1 additionally re-warms each query at sf0.001.
    for rep in range(3):
        for name in HEADLINE:
            fn = qs[name]
            if rep == 0:
                try:
                    fn(spark, warm_dir).count()
                except Exception:
                    pass
            t0 = time.time()
            df = fn(spark, sf_dir)
            counts[name] = df.count()
            dt = time.time() - t0
            timings[name] = round(min(timings.get(name, dt), dt), 3)
    total = 0.0
    for name in HEADLINE:
        total += timings[name]
        print(f"# {name}: {counts[name]} rows in {timings[name]:.2f}s", file=sys.stderr)
    out = {
        "metric": "headline_queries_wall_clock",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    # Emit the big per-query map EARLY (round-5 VERDICT ask #3: the 84-query
    # map on one line outgrew the driver's stdout tail capture and truncated
    # mid-dict, leaving BENCH_r05 "parsed": null). The detailed line goes out
    # now, a full copy lands in BENCH_LOCAL.json, and stdout ENDS with one
    # short machine-parseable line that no tail window can cut.
    print(json.dumps(out))
    sys.stdout.flush()
    if os.environ.get("SPARK_GRAFT_SCALE_BENCH", "1") != "0":
        try:
            from flink_siddhi_spark.llm.dedup import (
                ngram_containment_pairs,
                simhash_hamming_pairs,
            )

            def _load_docs(sdir):
                return spark.read.parquet(f"{sdir}/documents.parquet")

            # production-capped variants of the dense pair-emitters: at high
            # duplicate density the exact pair output is quadratic in group
            # size. simhash: max_bucket + per_doc_cap bound both the bucket
            # self-join and the emitted list (clustering recovers groups
            # transitively) — measured ~25x faster than exact at 10x
            # density. containment: per_doc_cap bounds only OUTPUT size, so
            # the df-cut (max_shingle_df) is the knob that bounds the
            # shingle-join fan-out itself — both reported alongside the
            # exact queries so every semantics has honest numbers.
            def _containment_canon(_s, d):
                # production order: collapse verbatim copies FIRST, then run
                # near-dup containment on canonical docs only. No explicit
                # caps: the 35k-doc canon corpus exceeds
                # DENSE_PAIR_AUTOCAP_LIMIT, so this measures the autocap
                # production configuration (per_doc_cap + df-cut +
                # prefix-capped candidate generation) end-to-end — the
                # exact prefix-filtered contract stays oracle-gated at
                # sf<=0.1 via the dedup_containment query
                from pyspark.sql import Window
                from pyspark.sql import functions as F

                docs = _load_docs(d)
                w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
                canon = (
                    docs.withColumn("__rk", F.row_number().over(w))
                    .filter("__rk = 1").drop("__rk")
                )
                return ngram_containment_pairs(canon, threshold=0.8)

            def _containment_prod(_s, d):
                # round-6: the DOCUMENTED production composition at high
                # duplicate density (SCALE.md) — fuzzy-dedup the corpus
                # first (collapses whole near-dup groups), then run
                # containment as the asymmetric-excerpt detector on the
                # survivors. At 100x this is 42.6s vs the canon entry's
                # 222s: the prefix filter prunes again once duplicate
                # density is gone.
                from flink_siddhi_spark.llm.dedup import fuzzy_dedup_keep

                docs = _load_docs(d)
                keep = fuzzy_dedup_keep(docs).select("doc_id")
                return ngram_containment_pairs(
                    docs.join(keep, "doc_id"), threshold=0.8
                )

            capped = {
                "dedup_simhash_hamming_cap5": lambda _s, d: simhash_hamming_pairs(
                    _load_docs(d), bits=16, max_hamming=2, max_bucket=256,
                    per_doc_cap=5,
                ),
                "dedup_containment_canon": _containment_canon,
                "dedup_containment_prod": _containment_prod,
                # r5's multimodal_image_neardup_cap64 entry retired in r6:
                # the main multimodal_image_neardup query now auto-caps at
                # this scale with the identical configuration (max_bucket=
                # LSH_AUTOCAP_BUCKET=64), so the two entries would measure
                # the same plan twice (r5 10x floors: 11.9s exact vs 2.4s
                # cap64 — the delta was the autocap gap this round closes)
            }
            sdir = _amplified_dir(spark, sf_dir, SCALE_FACTOR)
            scaled: dict[str, float] = {}
            scale_counts: dict[str, int] = {}
            # min over TWO interleaved passes (round-5 VERDICT ask #8): the
            # host shows bursty contention that inflates single samples
            # 3-6x, and pass 1 additionally pays first-at-this-scale codegen
            # — recording floors keeps round-over-round comparisons about
            # the PLAN, not the host. Interleaving (q1..qN, q1..qN)
            # separates a query's two samples by minutes so one burst
            # cannot inflate both.
            scale_fns = [(n, qs[n]) for n in SCALE_QUERIES] + list(capped.items())
            for rep in range(2):
                for name, fn in scale_fns:
                    t0 = time.time()
                    scale_counts[name] = fn(spark, sdir).count()
                    dt = round(time.time() - t0, 3)
                    scaled[name] = round(min(scaled.get(name, dt), dt), 3)
            for name, _fn in scale_fns:
                base = timings.get(name)
                dt = scaled[name]
                ratio = round(dt / (base * SCALE_FACTOR), 2) if base else None
                print(
                    f"# scale[{SCALE_FACTOR}x] {name}: {scale_counts[name]} rows "
                    f"in {dt:.2f}s (vs linear {base}*{SCALE_FACTOR}: ratio {ratio})",
                    file=sys.stderr,
                )
            out["sf_scale"] = {
                "factor": SCALE_FACTOR,
                "base_sf": sf,
                "queries": scaled,
            }
        except Exception as ex:  # scale section must never fail the bench
            print(f"# scale bench failed: {ex}", file=sys.stderr)
        else:
            # sf_scale map is small (~15 queries) — safe as its own line
            print(json.dumps({"sf_scale": out["sf_scale"]}))
            sys.stdout.flush()
    if os.environ.get("SPARK_GRAFT_CONTROL_BENCH", "1") != "0":
        try:
            out["trained_artifacts"] = trained_artifacts
            print(json.dumps({"trained_artifacts": trained_artifacts}))
            out["control_lifecycle"] = _control_lifecycle_bench(spark)
            print(json.dumps({"control_lifecycle": out["control_lifecycle"]}))
            sys.stdout.flush()
        except Exception as ex:  # must never fail the bench
            print(f"# control bench failed: {ex}", file=sys.stderr)
    if streaming_result is not None:
        # measured in the fresh first session above; emitted here so the
        # stdout line order (and the driver's tail parse) is unchanged
        out["streaming_throughput"] = streaming_result
        print(json.dumps(
            {"streaming_throughput": out["streaming_throughput"]}
        ))
        sys.stdout.flush()
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_LOCAL.json"), "w") as fh:
            json.dump(out, fh, indent=1)
    except OSError as ex:
        print(f"# BENCH_LOCAL.json write failed: {ex}", file=sys.stderr)
    # FINAL stdout line: short and guaranteed intact for the driver's tail
    # parser (metric/value/n_queries per the round-5 VERDICT spec)
    print(json.dumps({
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "n_queries": len(timings),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
