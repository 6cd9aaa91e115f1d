#!/usr/bin/env python
"""Empirical scale-sensitivity harness: run a family-representative
query subset at sf0.001 / sf0.01 / sf0.1 (100x data growth end to
end) in ONE Spark session and report per-query wall time plus the
marginal scaling factor over the top decade (sf0.01 -> sf0.1, 10x
rows).

Interpretation contract (written into SCALING.md): a factor near 1x
means the line is still fixed-overhead-bound at sf0.1 (per-query
planning + task dispatch dominate; the data term has headroom);
near 10x means the data term dominates and growth is linear — the
shape that extrapolates safely to cluster scale. Anything clearly
super-linear (>> 10x over one decade) is a scale bug. OSM queries are
excluded: they read the fixed-size deterministic fixture, not the
sf-scaled tables.

Usage: python scaling.py [--json out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from osmexpress_spark import get_spark  # noqa: E402

SF_DIRS = [
    ("0.001", "/root/testdata/sf0.001"),
    ("0.01", "/root/testdata/sf0.01"),
    ("0.1", "/root/testdata/sf0.1"),
]

# one line per §2.9 family, chosen for data-term visibility (documents/
# embeddings/events/lineitem all scale with sf)
SUBSET = [
    "q1_pricing_summary",      # relational core: scan + agg
    "q_star_join_revenue",     # multi-table join
    "q_sessionize",            # events window
    "q_band_join",             # bucketed range join
    "q_minhash_lsh_pairs",     # banded self-join dedup
    "q_fuzzy_token_pairs",     # blocked edit-distance join
    "q_doc_dup_spans",         # positional window hashes
    "q_bm25_topk",             # zero-shuffle scoring scan
    "q_embedding_topk",        # brute-force ANN
    "q_quality_logreg",        # broadcast model inference
    "q_cms_heavy_hitters",     # sketch fold
    "q_stratified_sample",     # scan-side sampling
    "q_quantile_sketch",       # integer-log sketch fold
    "q_exact_quantiles",       # multi-pass histogram selection
    "q_kmeans_train",          # whole-corpus Lloyd iteration
    "q_bpe_pair_counts",       # vocabulary pair aggregation
    "q_exact_quantiles_by",    # joint multi-bracket selection
    "q_frequent_tokens",       # CMS-pruned exact counts
    "q_bpe_merges",            # 8 full BPE training iterations
    "q_dist_drift",            # two-snapshot sketch census
    "q_mad_outliers",          # two exact medians + scan-side flag
    "q_winsorized_stats",      # exact clip bounds + grouped agg
    "q_rrf_fusion",            # BM25 + cosine rank fusion
    "q_html_strip",            # scan-side regex extraction chain
    "q_token_budget",          # ordered window cumsum selection
    "q_dist_drift_by",         # grouped two-snapshot census
    "q_nb_confusion",          # NB train + classify, one plan
    "q_shard_manifest",        # sink manifest: one map-side agg + XOR checksum
    "q_source_overlap",        # S^2-bounded shingle self-join, int keys
    "q_kcenter_select",        # k scan-side passes + TakeOrdered(1) each
    "q_nb_reliability",        # NB margin calibration, <=1025-row output
    "q_embedding_drift",       # scan-side quantizer census, <=k rows/side
    "q_hard_negatives",        # banded brute-force, broadcast anchors
    "q_manifest_merge",        # 3-part manifest fold == union manifest
    "q_event_spikes",          # bounded median/MAD alarm over window counts
    "q_split_leakage",         # banded LSH pairs crossing the split
    "q_stream_drift",          # streaming read path -> bounded census
    "q_hard_negatives_ivf",    # banded miner through the IVF probe join
    "q_embedding_gram",        # dim^2/2 exact second moments, one scan
    "q_softdedup_weights",     # cluster-size rational down-weighting
    "q_vocab_growth",          # heaps-law census, vocab-sized shuffle
    "q_ngram_novelty",         # distinct-ref membership join, no fan-out
    "q_rank_blend",            # sketch-rank fusion, zero corpus shuffle
    "q_budget_by_domain",      # per-domain budget windows, no global sort
    "q_modality_alignment",    # narrow id equi-join, one census row
    "q_profile_diff",          # two bounded per-column frames joined
    "q_image_near_dup",        # real BMP decode + banded Hamming join
    "q_audio_fingerprint",     # real WAV decode + banded Hamming join
    "q_distinctive_terms",     # vocab-sized lift join, group windows
    "q_mix_plan",              # one map-side agg to |domains| rows
    "q_image_ingest_dedup",    # persisted band store, new batch only decodes
    "q_format_census",         # scan-side magic sniff, map-side agg
    "q_quota_fill",            # two |domains|-row counts + quota windows
    "q_audio_flac_stats",      # real FLAC decode in the Arrow seam
    "q_audio_ingest_dedup",    # audio band store, new batch only decodes
    "q_image_dup_clusters",    # banded pairs -> min-label components
    "q_audio_g711_stats",      # G.711 mu/A-law expand in the Arrow seam
    "q_audio_adpcm_stats",     # IMA ADPCM recurrence, oracle-replayed
    "q_image_jpeg_stats",      # lossless-JPEG decode in the Arrow seam
    "q_bm25_store",            # postings store build + pruned-term query
    "q_kmv_distinct_by",       # per-group rank window, |groups|*k rows
    "q_dedup_masks",           # one hash shuffle + per-doc island window
    "q_bitext_mine",           # broadcast cross-scan + per-id windows
    "q_wav_segments_stats",    # VAD in the Arrow seam + island windows
    "q_rollup_store",          # rollup-store build + pruned partial merge
    "q_hashed_features",       # one-pass hashing-trick vectorizer folds
    "q_image_webp_stats",      # VP8L lossless decode in the Arrow seam
    "q_stream_rollup",         # streaming epoch sink + merge-on-read series
    "q_join_size_estimate",    # two CMS builds + bounded sketch join + exact join
    "q_prefix_filter_pairs",   # prefix-pruned inverted index + exact verify
    "q_bpe_token_census",      # train loop + JVM segmentation replay census
    "q_join_order_advice",     # two CMS estimate pairs + bounded sketch joins
    "q_audio_au_stats",        # Sun AU mu-law decode in the Arrow seam
    "q_audio_mp3_census",      # MPEG-1 L3 frame walk in the Arrow seam
    "q_zstd_census",           # zstd frame walk + ctypes decompress census
    "q_warc_census",           # gzip-member split + WARC/HTTP record parse
    "q_url_parse",             # RE2-safe URL grammar, scan-side codegen
    "q_charset_decode",        # BOM/utf-8/latin-1 sniff ladder in Arrow seam
    "q_ogg_census",            # Ogg page walk + CRC verify + Vorbis ident
    "q_robots_admit",          # rules seam + broadcast + longest-match max_by
    "q_record_linkage",        # soundex blocks + hot-cap anti-join + levenshtein
    "q_audio_mp3_decode",      # L3 bitstream decode (reservoir/huffman) seam
    "q_psl_domain",            # PSL longest-match, both execution paths
    "q_audio_mp3_pcm",         # full L3 PCM decode chain, analytic window
    "q_vorbis_setup",          # Ogg packet assembly + codebook parse seam
    "q_vorbis_pcm",            # full Vorbis decode chain, analytic table
    "q_audio_aac_census",      # ADTS frame walk + payload reassembly
]


def main() -> None:
    from osmexpress_spark.registry import live, pending

    # staged queries join the sweep before promotion
    registry = {**live(), **pending()}
    subset = SUBSET
    if "--only" in sys.argv:  # sweep a few lines without the full run
        names = sys.argv[sys.argv.index("--only") + 1].split(",")
        unknown = [n for n in names if n not in registry]
        if unknown:
            raise SystemExit(f"--only: unknown queries {unknown}")
        subset = names
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="osmx-scaling", cpus=cpus, shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warmup at every sf so first-touch parquet footer reads don't
    # pollute the smallest scale's numbers
    for _, d in SF_DIRS:
        registry["q1_pricing_summary"](spark, d).write.format(
            "noop"
        ).mode("overwrite").save()

    results: dict[str, dict[str, float]] = {name: {} for name in subset}
    for tag, d in SF_DIRS:
        for name in subset:
            t0 = time.monotonic()
            registry[name](spark, d).write.format("noop").mode(
                "overwrite"
            ).save()
            results[name][tag] = round(time.monotonic() - t0, 3)

    out = {"cpus": int(cpus), "subset": results}
    for name, r in results.items():
        r["x_last_decade"] = round(r["0.1"] / max(r["0.01"], 1e-9), 2)
    print(json.dumps(out))
    if "--json" in sys.argv:
        path = sys.argv[sys.argv.index("--json") + 1]
        with open(path, "w") as f:
            json.dump(out, f, indent=2)
    spark.stop()


if __name__ == "__main__":
    main()
