"""Generate PLANS.md: physical-plan audit of the headline queries.

Each query is EXECUTED once (AQE finalizes the plan) and the final
executed plan is scanned for the scale levers: shuffles, join
strategies, cartesian products, Python/Arrow stages, and whole-stage
codegen spans (the `*(n)` markers)."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NAMES = [
    "pip_region", "pip_zones_join", "extract_values", "knn",
    "minhash_lsh", "zonal_stats", "warp_near", "warp_stats",
    "gradient_raster", "connected_components", "contour_lines",
    "geo_dedup", "dedup_clusters", "ann_topk", "boilerplate_ngrams",
    "events_sessions", "morton_cells",
    # round 4
    "pip_region_holes", "extract_clip_holes", "lines_in_region",
    "rasterize_lines", "simhash_near",
    # round 5
    "pip_zones_holes", "ann_topk_bucketed", "pages_extract", "pages_pip",
    "gopher_repetition", "quality_filter", "vocab_topk", "span_dedup",
    "url_canonical", "pages_latest", "host_domains", "page_links",
    "pagerank", "host_locality", "snapshot_reads", "corpus_pipeline",
    "corpus_incremental", "mirror_clusters", "url_filter",
    "domain_cap", "link_depth", "noindex_filter", "anchor_stats",
    "host_graph", "seq_packing", "decontaminate", "pii_scrub",
    "mix_weights", "corpus_shuffle", "rag_chunks", "snapshot_compact",
    "image_meta", "audio_meta", "training_mix", "blocklist",
    "distinct_sketch", "skew_report", "sketch_merge", "video_meta", "media_router",
    # round 6
    "substring_dedup", "bpe_tokens", "seq_packing_bpe",
    "classifier_scores",
]


def main():
    import __spark_entry__ as e
    from geokit_spark.session import get_spark

    spark = get_spark("plan_audit", cores=8)
    qs = e.queries()
    sf = "/root/testdata/sf0.001"
    rows = []
    for n in NAMES:
        df = qs[n](spark, sf)
        df.collect()  # finalize THIS query execution's adaptive plan
        p = df._jdf.queryExecution().executedPlan().toString()
        # AQE final plans repeat child nodes inside materialized query
        # stages; count the STAGES (deduplicated by id) for shuffles /
        # broadcasts, and physical join operators for strategies
        # fallback (AQE off): count shuffle exchanges only — a bare
        # "Exchange" substring also matches BroadcastExchange
        shuffles = len(set(re.findall(r"ShuffleQueryStage (\d+)", p))) or len(
            re.findall(r"(?<!Broadcast)Exchange (?:hash|range|Single)", p)
        )
        bcasts = len(set(re.findall(r"BroadcastQueryStage (\d+)", p)))
        rows.append(
            (
                n,
                shuffles,
                bcasts,
                p.count("SortMergeJoin"),
                p.count("CartesianProduct"),
                p.count("ArrowEvalPython")
                + p.count("FlatMapGroupsInPandas")
                + p.count("MapInPandas")
                + p.count("PythonMapInArrow")
                + p.count("MapInArrow"),
                len(set(re.findall(r"\*\((\d+)\)", p))),
            )
        )
    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        "Generated from the EXECUTED (AQE-final) plans at sf0.001,",
        "local[8]. The columns are the scale levers: shuffles (Exchange),",
        "broadcast vs sort-merge joins, accidental cartesian products",
        "(must be 0 outside the fenced exactness baselines), Python/Arrow",
        "stages (only where the operator semantics need them), and",
        "whole-stage-codegen span count (the `*(n)` markers).",
        "Regenerate: `python scripts/plan_audit.py`.",
        "",
        "| query | shuffle stages | broadcast stages | sort-merge joins | cartesian | python/arrow stages | codegen spans |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append("| " + " | ".join(str(x) for x in r) + " |")
    lines += [
        "",
        "Notes:",
        "- python/arrow and codegen counts may repeat nodes echoed",
        "  inside AQE stage reprs — read them as presence/shape, the",
        "  stage columns as exact.",
        "- PIP joins: candidate map broadcast, big side never shuffles",
        "  before the final aggregation; the boundary band is the only",
        "  Arrow stage.",
        "- Raster kernels (gradient, components, contours) shuffle once",
        "  for the halo/seam exchange — the minimum for cross-tile",
        "  semantics.",
        "- `embed_topk`/`cosine_topk` intentionally contain the only",
        "  crossJoin in the repo and are capped at max_rows (exactness",
        "  baselines; ann_topk_bucketed/ivf_topk_fixed are the verified",
        "  scale paths).",
        "- `pagerank`: the degree-annotated edge set is persisted",
        "  (MEMORY_AND_DISK); its Arrow extraction subtree is echoed at",
        "  every InMemoryTableScan reference in the plan text (6 refs),",
        "  but executes ONCE — the per-iteration cost is one hash join +",
        "  one partial+final aggregation.",
        "- `corpus_pipeline` (extract -> quality -> dedup -> zones ->",
        "  rollup) is JOIN-FREE until the broadcast zones join: lang",
        "  rides the Arrow extractor batch, text rides the quality",
        "  gate, canonical attrs fold into the dedup agg (min_by) —",
        "  2 shuffles total (md5 group + final rollup), 0 sort-merge",
        "  joins for a five-stage funnel.",
        "- `corpus_incremental`: 9 shuffles = 3 snapshot versions x",
        "  one per-slice funnel (2 shuffles + its total agg) — the",
        "  per-diff cost is constant; a daily ingest pays one funnel,",
        "  never a rescan of the table.",
        "- `snapshot_reads`: 9 shuffles = 3 versions x (full agg +",
        "  countDistinct second phase + incremental-diff agg) — each a",
        "  1-row scalar; the version x version scalar combine is a",
        "  broadcast nest, not a cartesian over data.",
        "- `link_depth`: each BFS round runs as its own eagerly",
        "  localCheckpoint-ed job (the iterative lineage cut), so the",
        "  final plan shows only the depth rollup; a round is one src",
        "  hash join + distinct + anti-join over the persisted edge",
        "  set and the O(new nodes) frontier — state never compounds",
        "  and depth is a small constant in crawl practice.",
        "- `noindex_filter` is a pure codegen predicate fused into the",
        "  page build (0 python stages); `domain_cap` is one",
        "  domain-keyed exchange + in-partition rank.",
        "- `sieve` auto-routes on component count: <= 2M components",
        "  collects the COMPONENT-granularity graph (never pixels) for",
        "  the sequential driver loop; beyond that, the distributed",
        "  fixpoint (sieve_merge(distributed=True)) never collects —",
        "  each round merges, in parallel Spark joins, every pending",
        "  component that is provably order-exchangeable (settled-hub",
        "  fast path + distance-2 order minima), pytest-pinned",
        "  bit-identical to the loop incl. a >=1e5-component raster.",
        "- `ann_topk_bucketed(quantize='int8'|'int16')` keeps the same",
        "  2-exchange plan with integer shipped cells (256 -> 64/128 B):",
        "  the per-bucket gemm is EXACT integer math, so the quantized",
        "  path is bit-reproducible at any parallelism (no cross-table",
        "  ULP dedup caveat); fidelity grades pinned by pytest.",
        "- `pages_extract_sql` / bench `html_extract_sql`: the all-JVM",
        "  extractor variant (locate/substring + one lazy regex + a",
        "  replace chain, 0 python stages) — byte-identical to the",
        "  Arrow byte kernel on well-formed html, pytest + oracle",
        "  pinned; the throughput path for crawls you trust.",
        "- `host_graph`: ONE dst_id-keyed join (AQE picks the side to",
        "  broadcast at this sf; at cluster scale both sides",
        "  co-partition on the id key) + the final rollup.",
        "- `seq_packing`: one (lang, shard) hash exchange with",
        "  in-partition window cumsum (shards are 256-doc bounded, no",
        "  global sort) + the per-lang audit agg.",
        "- `decontaminate`: distinct eval grams build on the tiny eval",
        "  side and BROADCAST; the corpus side is explode_outer ->",
        "  broadcast hash probe -> one doc_id agg shuffle.",
        "- `pii_scrub` is fully narrow (position-arithmetic token",
        "  predicates fused with the scan; 0 shuffles); `mix_weights`",
        "  is one lang hash-agg — its single-partition window runs",
        "  over the bounded lang dimension, not the corpus.",
        "- `training_mix` (curation capstone: inject -> decontaminate",
        "  -> anti-join removal -> redact -> mixture table): the",
        "  contaminated list is tiny so the removal is a BROADCAST",
        "  anti join — the corpus never shuffles for the filter; the",
        "  redaction is narrow; total shuffles = eval distinct +",
        "  decon agg + lang agg.",
        "- `sketch_merge`: the full-outer half-join cannot broadcast",
        "  (outer side must be complete), so it sort-merges — over",
        "  the BOUNDED per-group synopsis rows (one row per lang),",
        "  never corpus data.",
        "- `blocklist` is a codegen IN-set predicate (0 shuffles);",
        "  `distinct_sketch` pays countDistinct's phase-1 exchange",
        "  once (distinct partials) + the bounded-group top-k;",
        "  `skew_report`'s counts go through the salted two-stage",
        "  agg and the top-k is TakeOrderedAndProject (no global",
        "  sort).",
        "- `image_meta` / `audio_meta` / `video_meta`: build + byte-parse",
        "  are two",
        "  chained mapInPandas stages, 0 shuffles — header scans",
        "  pipeline with the scan; payload pruned for metadata-only",
        "  consumers.",
        "- `corpus_shuffle`: one shard exchange + in-partition rank;",
        "  `rag_chunks` is explode-only (0 shuffles); ",
        "  `snapshot_compact` is a protocol demo over scalar rows",
        "  (per-version 1-row aggs combined by broadcast nest, like",
        "  snapshot_reads).",
        "- `substring_dedup` (round 6): ONE gram-keyed exchange",
        "  (duplicated 8-grams via distinct-doc counts, map-side",
        "  combinable min/max — never a positions list) + the doc_id",
        "  cover agg; the gram exchange carries only md5 keys + int",
        "  positions. The rebuild join broadcasts the cover below the",
        "  threshold; above it corpus text crosses at most ONE",
        "  doc_id-keyed exchange (zero on a doc_id-bucketed table).",
        "- `bpe_tokens` / `seq_packing_bpe`: the tokenizer is a single",
        "  narrow Arrow kernel (committed merge table is a broadcast",
        "  literal, per-batch word memoization); the BPE pack variant",
        "  reuses pack_sequences' one (lang, shard) exchange.",
        "- `classifier_scores`: FULLY NARROW (0 shuffles, 0 python) —",
        "  unigram+bigram hashing-trick features as array lambdas",
        "  fused with the scan; a learned weight vector would occupy",
        "  the same plan position as a broadcast lookup.",
        "- `ann_topk_bucketed` (round-6 layout): partial top-k crosses",
        "  the merge exchange as ONE 16k-byte packed cell per",
        "  (vec_id, bucket) row — 5x fewer shuffle rows than",
        "  row-per-pair, measured 102 -> 27 JVM-cpu-seconds of shuffle",
        "  row framing at 2M vectors / 32 cores.",
        "",
    ]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print("\n".join(lines))
    spark.stop()


if __name__ == "__main__":
    main()
