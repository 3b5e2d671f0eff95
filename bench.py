"""Benchmark harness (driver contract).

Runs the headline workload at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ...,
     "extract_turns_per_sec": ..., "extract_turns": ...}

The headline is the extraction pipeline itself (read parquet ->
fused mapInPandas -> write parquet), measured as turns/sec over a
deterministic synthetic transcripts table (BASELINE.md target), plus
the representative operator queries from __spark_entry__ at the given
scale dir.

For the N vs 4N scaling-efficiency evidence (north_rule), run
``python tools/bench_scaling.py`` which invokes this file at
SPARK_GRAFT_CPUS=8 and =32 and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_TURNS = int(os.environ.get("VPS_BENCH_TURNS", "100000"))
REPEATS = int(os.environ.get("VPS_BENCH_REPEATS", "3"))  # best-of (the
# box carries BURSTY neighbor load — observed 1-min loadavg 0.5 -> 700
# within minutes; three repeats give each query a fair shot at landing
# in a quiet window)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# operator queries included in the timed suite (names from
# __spark_entry__.queries(); chosen to cover scan/agg, broadcast join,
# window, LSH dedup, vector top-k, python-stage extraction)
BENCH_QUERIES = [
    "extract_markdown",
    "pricing_summary",
    "top_customers",
    "sessionize",
    "minhash_dedup",
    "cosine_topk",
    "lev_similarity",
    # round 3: narrow-Generate and LSH-join physics representatives
    # (both oracled) so regressions across operator classes are visible
    "chunk_documents",
    "embedding_near_dups",
    # the end-to-end curation composition (gate-first, then the one
    # MinHash LSH the oracle replays)
    "curate",
    # round 4: the remaining operator classes — distributed prefix-sum
    # packing, explode-agg repetition signals, iterative CC joins,
    # broadcast-gram decontamination
    "pack_contexts",
    "repetition_stats",
    "dup_clusters",
    "decontaminate",
    # round 5: corpus stats (bounded top-k) and lexical retrieval
    "top_ngrams",
    "bm25",
    # round 5: span-level corpus dedup (distinct-agg + broadcast
    # cover join) and KMeans-cell semantic dedup (Lloyd's control
    # plane + within-cell cosine prune)
    "span_dedup",
    "semdedup",
    # round 5: per-group windowed selection + unigram-LM scoring
    "top_quality",
    "unigram_logprob",
    # round 5: temporal join (union+window) and rollup profile
    "asof_attribution",
    "corpus_rollup",
    # round 6: the seven-stage curation composition (gates -> decon
    # -> SemDeDup -> MinHash -> span cut -> scrub), the pipeline the
    # engine exists for, end to end
    "curate_full",
]


def _q_embedding_near_dups_fast(spark, sf_dir):
    """Throughput twin of the contract's embedding_near_dups: same
    hyperplane buckets, within-bucket verify as one normalized matmul
    per bucket group (applyInPandas) instead of per-pair Catalyst
    folds.  Pair-set equality with the portable path is
    pytest-asserted."""
    from pyspark.sql import functions as F

    from vision_parse_spark.operators.similarity import (
        embedding_near_dups_fast,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(e.select("embedding").first()[0])
    return embedding_near_dups_fast(e, dim=dim, threshold=0.3, n_planes=4) \
        .select("id_a", "id_b")


BENCH_OVERRIDES = {
    "embedding_near_dups": _q_embedding_near_dups_fast,
}


def _input_parquet(spark, n_turns: int) -> str:
    """Deterministic bench input, generated distributed and cached on
    disk so every run (and both scaling arms) reads identical files."""
    from vision_parse_spark.synth import SYNTH_VERSION, synth_transcripts_spark

    path = f"/tmp/vps_bench_input_v{SYNTH_VERSION}_{n_turns}"
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        synth_transcripts_spark(spark, n_turns, partitions=max(CPUS, 16)) \
            .write.mode("overwrite").parquet(path)
    return path


def main():
    from vision_parse_spark import ExtractConfig, extract
    from vision_parse_spark.session import get_spark
    import __spark_entry__ as em

    load_start = os.getloadavg()[0]
    spark = get_spark(
        "vps-bench", cores=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    timings: dict[str, float] = {}

    # --- headline: extraction throughput over the transcripts table ---
    inp = _input_parquet(spark, BENCH_TURNS)
    out_path = f"/tmp/vps_bench_out_{CPUS}"
    extract_sec = float("inf")
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        df = spark.read.parquet(inp)
        res = extract(df, ExtractConfig(image_mode="url"))
        res.write.mode("overwrite").parquet(out_path)
        extract_sec = min(extract_sec, time.perf_counter() - t0)
    timings["extract_pipeline"] = round(extract_sec, 3)

    n_out = spark.read.parquet(out_path).count()
    assert n_out == BENCH_TURNS, f"row loss: {n_out} != {BENCH_TURNS}"

    # --- round-5 diagnostic arm (r4 verdict item 1): the SAME extract
    # over the SAME synth-v4 input with the vector raster channel OFF.
    # Separates the r4 extract_pipeline delta into measured new work
    # (the vector-figure channel's per-payload cost) vs regression.
    # Reported OUTSIDE the summed suite so `value` stays comparable
    # round-over-round.
    novec_sec = float("inf")
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        df = spark.read.parquet(inp)
        res = extract(df, ExtractConfig(image_mode="url",
                                        vector_figures=False))
        res.write.mode("overwrite").parquet(out_path + "_novec")
        novec_sec = min(novec_sec, time.perf_counter() - t0)

    # --- operator queries at the sf dir (best-of-REPEATS each) ---
    qs = em.queries()
    for name in BENCH_QUERIES:
        best = float("inf")
        for _ in range(REPEATS):
            spark.catalog.clearCache()  # honest cold repeats: some
            # operators persist intermediates keyed by plan
            t0 = time.perf_counter()
            # count() forces full execution w/o driver-side collect cost
            BENCH_OVERRIDES.get(name, qs[name])(spark, SF_DIR).count()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    # --- round-6 (r5 verdict item 6): one-shot wall time for EVERY
    # contract query, so no query class can silently regress between
    # rounds.  Reported OUTSIDE the summed suite (`value` stays
    # comparable round-over-round); one-shot on a bursty box means
    # individual numbers are noisy — read them as order-of-magnitude
    # tripwires, not benchmarks (the curated suite above is the
    # best-of-N benchmark).
    sweep: dict[str, float] = {}
    for name in sorted(qs):
        if name in timings:
            continue
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        BENCH_OVERRIDES.get(name, qs[name])(spark, SF_DIR).count()
        sweep[name] = round(time.perf_counter() - t0, 3)

    # --- streaming drain: same extract, Structured Streaming path ---
    # (one code path batch+stream; this measures the micro-batch
    # overhead on the same 100k-turn input drained with availableNow)
    from vision_parse_spark.streaming.stream import extract_stream

    stream_sec = float("inf")
    for i in range(REPEATS):
        ckpt = f"/tmp/vps_bench_ckpt_{CPUS}_{i}"
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
        t0 = time.perf_counter()
        q = (
            extract_stream(spark, inp, ExtractConfig(image_mode="url"),
                           max_files_per_trigger=max(CPUS, 16))
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        stream_sec = min(stream_sec, time.perf_counter() - t0)

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "extract_turns": BENCH_TURNS,
        "extract_turns_per_sec": round(BENCH_TURNS / extract_sec, 1),
        # diagnostic arm, outside the summed suite: vector raster
        # channel disabled on the same input (r4 verdict item 1 —
        # extract_pipeline minus the channel's honest new work)
        "extract_no_vector_sec": round(novec_sec, 3),
        "extract_no_vector_turns_per_sec": round(BENCH_TURNS / novec_sec, 1),
        # informational, outside the summed suite: the SAME extraction
        # drained through Structured Streaming (availableNow, noop
        # sink) — one code path batch+stream, quantified
        "extract_stream_drain_sec": round(stream_sec, 3),
        # one-shot times for every other contract query (regression
        # tripwire, not a benchmark — single run on a noisy box)
        "full_sweep": sweep,
        "full_sweep_total_sec": round(sum(sweep.values()), 3),
        "cpus": CPUS,
        # box-noise provenance: this host carries BURSTY neighbor
        # load (observed 1-min loadavg 0.3 -> 14 within minutes);
        # start/end 1-min loadavg lets a reader separate engine
        # regressions from contaminated runs
        "loadavg_start": round(load_start, 2),
        "loadavg_end": round(os.getloadavg()[0], 2),
    }))


if __name__ == "__main__":
    main()
