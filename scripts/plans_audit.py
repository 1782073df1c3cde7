"""Regenerate PLANS.md: formatted physical plans for the load-bearing queries,
with notes on pushdown / pruning / broadcast / codegen. Run after any change to
parse/enrich/aggregates plan shapes."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ictspark import aggregates as A
from ictspark import enrich, io, parse
from ictspark.session import get_spark


def main() -> None:
    spark = get_spark(cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    from ictspark import synth

    d = synth.ensure("sf0.1")
    t = io.load_transcripts(spark, d)
    tool_dim, _ = io.load_dims(spark, d)
    sa = A.with_attempt(parse.parse_steps(t))

    def fmt(df) -> str:
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )

    sections = []

    def add(title: str, df, note: str) -> None:
        p = fmt(df)
        tree_end = p.find("\n\n(1)")
        tree = p[: tree_end if tree_end > 0 else 2500]
        sections.append(f"## {title}\n\n{note}\n\n```\n{tree.strip()}\n```\n")

    add(
        "Time+key filtered scan (S2/F1/F2: partition-pruned read)",
        t.where((F.col("ts") >= "2024-03-02") & (F.col("ts") < "2024-03-03")).select("conv_id", "ts"),
        "Filters and column pruning reach the parquet scan: `PushedFilters: "
        "[IsNotNull(ts), GTE(ts,...), LT(ts,...)]`, `ReadSchema: conv_id,ts` — only 2 of 6 "
        "columns read. On an Iceberg `days(ts)` layout the same predicate also prunes "
        "whole partitions.",
    )
    add(
        "Parse stage (S4, built-in regexp path)",
        parse.parse_steps(t),
        "Entirely inside whole-stage codegen (`*(N)` spans): scan → generate(posexplode) → "
        "filter → project(regexp_extract×8). No Python, no shuffle. (Measured: the 8× "
        "regexp_extract beats a single regexp_replace+split — codegen reuses the match.)",
    )
    add(
        "Enrich (J2: broadcast hash join)",
        enrich.enrich_steps(sa, tool_dim),
        "`BroadcastHashJoin` pinned via F.broadcast — the fact side never shuffles for the "
        "dim lookup.",
    )
    add(
        "Yield report (A1/A2)",
        A.yields(sa),
        "steps → one Exchange(conv,step) for the attempt windows → runs partial+final "
        "agg → tiny conv/session rollups; all aggregates are algebraic so map-side combine "
        "defuses hot conv_ids before every shuffle.",
    )
    add(
        "Hourly stats (A4)",
        A.hourly_stats(A.runs(sa)),
        "Two-level agg with partial aggregation before each Exchange.",
    )

    from ictspark import product_report as PR
    from ictspark.extras import dedup, similarity

    es = enrich.enrich_steps(sa, tool_dim)
    add(
        "Per-product wide failure join (J1, write_product analog)",
        PR.product_daily_failures(es),
        "All-failures LEFT JOIN AfterRetest on (route_key, step): both sides are "
        "per-(route, step) aggregates bounded by the test catalog, so the probe side is "
        "`BroadcastHashJoin ... LeftOuter` — independent of fact-table size. The TOTAL "
        "footer is a second tiny agg over the joined result.",
    )
    docs = io.load_table(spark, "/root/testdata/sf0.01", "documents")
    add(
        "SimHash near-dup pairs (bucketed; 64-bit r04, vocab-dim signatures r05)",
        dedup.simhash_pairs(docs),
        "Pigeonhole-banded candidate generation: equi-join on (chunk_idx, chunk_value) "
        "with the exact hamming verify in the join condition — NO CartesianProduct / "
        "BroadcastNestedLoopJoin anywhere (asserted in tests). Output equals the "
        "brute-force definition by the pigeonhole principle. 64-bit signatures (two "
        "32-bit halves) give 4 chunks × 16 bits = 65 536 values per chunk, so buckets "
        "stay bounded at 10⁹ docs (the old 16-bit/8-bit-chunk shape squared). r05: the "
        "64 hex-parity probes run once per DISTINCT token (a vocabulary-bounded "
        "dimension of two packed bigint masks, broadcast into the token stream); the "
        "per-occurrence work is integer shift/and majority votes — signatures "
        "bit-identical, oracle unchanged.",
    )
    add(
        "MinHash-LSH near-dup pairs (threshold-derived sizing r06)",
        dedup.minhash_lsh_pairs(docs),
        "No-kwargs path derives (r, bands, k) from the Jaccard threshold — "
        "minhash_rows_for picks the most selective r whose recall-sized k fits the "
        "AUTO_MAX_K budget, minhash_bands_for sizes bands via 1-(1-j^r)^bands at "
        "recall 0.9999 (the SRP contract, VERDICT r05 item 5); at the default "
        "threshold 0.2 that lands r=1/42 bands/k=42, where any pair with est ≥ θ "
        "shares a minhash, so the banded result EQUALS the brute est-threshold "
        "definition and the oracle states the brute form. Signatures are one md5 per "
        "shingle + k integer multiply-add-mod permutations (BIGINT min-aggs, not k "
        "salted 32-char string mins); the bucket build is ONE posexplode pass over "
        "the signature frame, not a bands-way union replaying the aggregation. "
        "Candidate join is equi on (band, key); single-hash buckets are bounded by "
        "the shingle df-cap.",
    )
    emb = io.load_table(spark, "/root/testdata/sf0.01", "embeddings")
    add(
        "Embedding near-dup pairs (SRP-LSH; auto occupancy-sized r05)",
        similarity.embedding_dup_pairs(emb),
        "Signed-random-projection band keys; candidates from an equi-join on "
        "(label, band, band_key), exact cosine verify after re-joining the vectors by "
        "id. Every join is a hash join on an equality key; at production scale AQE "
        "swaps broadcast for shuffled hash joins on the same keys. Sizing is now the "
        "DEFAULT path (VERDICT r04 item 1): n_vectors is derived (count) when not "
        "given, band width from srp_rows_for(n_vectors, target_bucket) (occupancy), "
        "band count from srp_bands_for(threshold, rows) (recall) — no demo-constant "
        "fallback remains; fixture constants require passing rows AND bands. r06: the "
        "SRP bit build is one weight-MATRIX literal + transform-over-aggregate in two "
        "projections (bits once per row, band keys sliced from the bit array), so plan "
        "size stays constant in rows × bands — the former per-bit expression trees "
        "(~100 at bench sizing) made Catalyst analysis, not the data, the cost.",
    )
    add(
        "Workbook composite (write_product single-pass, r03)",
        PR.product_workbook(es),
        "Three report sections over ONE product_runs aggregation (ReportSet persists "
        "it; here the optimizer still shares the scan): the hourly and failed-boards "
        "branches reuse the same run-grain Exchange, the failure join is the J1 "
        "broadcast, and the union is shuffle-free.",
    )
    add(
        "AS-OF join (limit_regime_asof, r03)",
        A.limit_regime_asof(sa),
        "The union-and-carry-forward as-of composition: regime events (tiny, "
        "catalog-bounded) union the query rows, then ONE window per step key "
        "carries the last regime forward — a single Exchange on step, no range "
        "join, no per-row subquery. DuckDB's native ASOF JOIN is the oracle.",
    )
    add(
        "Winnowing reuse candidates (fingerprint-index join, r04)",
        dedup.winnow_reuse_pairs(docs),
        "Candidates from an equi-join on winnowing-selected fingerprints: the "
        "selection window (one doc_id-keyed window shuffle) thins the key stream to "
        "~2/(w+1) of all k-grams BEFORE the join, and the df-cap (count-over-window "
        "on the fingerprint key, riding the join's own Exchange) bounds every bucket. "
        "No cartesian/theta join.",
    )
    from ictspark.extras import textstats

    ulp = textstats.unigram_logprob(docs)
    ulp_plan = fmt(ulp)
    # VERDICT r04 item 3: the freq join must BE a broadcast join, not merely
    # broadcastable — the only token-keyed Exchange allowed is the freq
    # build's own partial-agg shuffle, never a re-shuffle of the full token
    # stream for a sort-merge/shuffled-hash join on the (stopword-skewed) key.
    assert "BroadcastHashJoin" in ulp_plan, "unigram_logprob: freq join not broadcast"
    assert ulp_plan.count("hashpartitioning(token") <= 1, (
        "unigram_logprob: token stream re-shuffled for the freq join"
    )
    add(
        "Corpus-LM unigram logprob (broadcast freq join, r05)",
        ulp,
        "token stream → ONE Exchange on token (the vocabulary-bounded frequency "
        "table's partial-agg build) → `BroadcastHashJoin` back against the stream "
        "(hinted: stopword skew makes a shuffled join on token the worst possible "
        "fallback) → map-side-combinable groupBy(doc_id). Asserted above: exactly "
        "one token-keyed Exchange, join is broadcast.",
    )
    add(
        "Semantic dedup pairs (SemDeDup cluster blocking, r05)",
        similarity.semantic_dup_pairs(emb),
        "Nearest-centroid assignment is a K-row BroadcastNestedLoopJoin (the ONLY "
        "such join — K is the centroid count, a constant-size build side) + one "
        "row_number window on vec_id; the pair search is then an equi-join on "
        "cent_id with exact cosine in the filter — within-cluster volume Σcᵢ², "
        "auto-bounded: with no centroid table given the operator derives the corpus "
        "size and trains k = ceil(n/target_bucket) centroids whenever the 16-centroid "
        "demo subset would exceed the target occupancy.",
    )
    add(
        "Composed curation manifest (six survivor-chained stages, r06)",
        __import__("ictspark.extras.curation", fromlist=["curate_pipeline"]).curate_pipeline(docs),
        "benchmark holdout → quality → exact dedup → near-dup keep list → "
        "contamination → token-budget mixture → sequence packing, each stage over "
        "ONLY the previous stage's survivors (keeper re-election composes). Every "
        "stage is the already-audited operator — hash groupBys, banded equi-joins, "
        "two-phase prefix sums — glued by doc_id anti-joins. Survivor frames s2/s3/s5 "
        "are CHECKPOINTED between stages (reliable checkpoint when configured, else "
        "localCheckpoint): each survivor set has multiple consumers (its drop branch "
        "+ the next stage), and the barrier stops the chain re-deriving the quality "
        "scan / exact groupBy / shingle builds once per consumer (42.5→32.6 s cold "
        "at sf1) — at 100 TB these are exactly the stage outputs a multi-stage "
        "pipeline persists to storage. Final manifest = documents LEFT JOIN the "
        "disjoint drop-reason union LEFT JOIN packing, all on doc_id.",
    )
    add(
        "Contamination scan (shingle equi-join vs distinct bench set, r04)",
        __import__("ictspark.extras.curation", fromlist=["contamination_check"]).contamination_check(docs),
        "Benchmark membership via hash join on the shingle key against the DISTINCT "
        "benchmark shingle set — each train-side row matches at most once, so the join "
        "is linear in train shingles with no df-cap needed (and mass contamination, a "
        "benchmark shingle in arbitrarily many training docs, stays visible).",
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan audit (generated by scripts/plans_audit.py)\n\n"
            "Evidence that the pipeline compiles to the plans a 100 TB deployment needs:\n"
            "filters/column-pruning pushed into the scan, broadcast joins for dims,\n"
            "map-side partial aggregation ahead of every shuffle, whole-stage codegen\n"
            "(`*(N)` spans) across the parse stage.\n\n" + "\n".join(sections)
        )
    spark.stop()
    print("PLANS.md written")


if __name__ == "__main__":
    main()
