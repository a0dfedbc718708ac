"""Connector pushdown behavior + physical-plan quality guards
(the 100 TB design assertions: filters reach the scan, dimension
joins broadcast, no accidental cartesian products)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipeline311_spark.plans import REGISTRY


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_connector_reader_pushdown_unit(sf_dir):
    from pyspark.sql.datasource import EqualTo, GreaterThan, StringStartsWith

    from pipeline311_spark.sources.salesforce_sim import CaseSourceReader

    schema = T.StructType([T.StructField("doc_id", T.LongType()), T.StructField("lang", T.StringType())])
    reader = CaseSourceReader(schema, {"path": f"{sf_dir}/documents.parquet", "pagesize": "100"})
    unsupported = list(
        reader.pushFilters([GreaterThan(("doc_id",), 10), StringStartsWith(("lang",), "e")])
    )
    # range filter accepted at source; StartsWith handed back to Spark
    assert len(reader.pushed) == 1 and len(unsupported) == 1
    pages = reader.partitions()
    assert len(pages) == 5  # 500 docs / 100 per page
    rows = [r for p in pages for r in reader.read(p)]
    assert all(r[0] > 10 for r in rows)


def test_connector_query_matches_plain_scan(spark, sf_dir):
    got = {
        r["lang"]: (r["n_docs"], r["total_chars"])
        for r in REGISTRY["s1_connector_pushdown"].fn(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = {
        r["lang"]: (r["n"], r["t"])
        for r in docs.filter("n_chars > 200 AND lang IN ('en','de','fr')")
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("t"))
        .collect()
    }
    assert got == want


def test_flagship_plan_quality(spark, sf_dir):
    plan = explain_str(REGISTRY["q05_nation_revenue"].fn(spark, sf_dir))
    # filters pushed into the parquet scan
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan
    # all dimension joins broadcast; no sort-merge for the small sides
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_cleaning_kernel_single_stage(spark, sf_dir):
    # the whole P1-P12 kernel must run as projections over the scan
    # in one stage — no shuffles/exchanges (the reference needed a full
    # in-memory materialization; we need zero) — and the NFKD->ASCII
    # fold stays in the JVM: no Python eval node in either plan
    for name in ("pipeline_clean_cases", "pipeline_gold_projection"):
        plan = explain_str(REGISTRY[name].fn(spark, sf_dir))
        assert "Exchange" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_cleaning_kernel_folds_once(spark, sf_dir):
    """Each NFKD fold runs once per row: the cleaned description feeds
    both ``description`` and ``description_full``, and ``reflect`` is
    nondeterministic, so subexpression elimination would not share a
    fold written twice.  The folds sit in their own projection, which
    leaves the rest of the kernel — the output projection — inside
    whole-stage codegen."""
    plan = REGISTRY["pipeline_clean_cases"].fn(spark, sf_dir)._jdf.queryExecution().executedPlan()

    def walk(node):
        yield node
        kids = node.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i))

    folds = sum(
        n.projectList().toString().count("com.ibm.icu.text.Normalizer")
        for n in walk(plan)
        if n.nodeName() == "Project"
    )
    assert folds == 2, plan.treeString()  # description + status_notes
    assert plan.nodeName().startswith("WholeStageCodegen"), plan.treeString()


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = explain_str(REGISTRY["q_topk_orders"].fn(spark, sf_dir))
    scan_line = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_line and "o_totalprice" in scan_line[0]
    # pruned: the unused o_orderdate column must not be read
    assert "o_orderdate" not in scan_line[0]


def test_partitioned_write_prunes_reads(spark, sf_dir, tmp_path):
    # T2/S10 at scale: date-partitioned storage -> Catalyst prunes
    # partitions for windowed backfills instead of scanning history
    from pipeline311_spark.sources.readers import load_table

    out = str(tmp_path / "events_by_day")
    e = load_table(spark, sf_dir, "events")
    e.withColumn("day", F.date_format("ts", "yyyy-MM-dd")).write.partitionBy(
        "day"
    ).mode("overwrite").parquet(out)

    back = spark.read.parquet(out).filter(F.col("day") == "2024-01-05")
    plan = explain_str(back)
    assert "PartitionFilters: [isnotnull(day" in plan
    want = e.filter(F.date_format("ts", "yyyy-MM-dd") == "2024-01-05").count()
    assert back.count() == want


def test_salted_agg_plan_two_phases(spark, sf_dir):
    # the salted aggregation must show two aggregate exchanges (salted
    # partial + final merge), never a single hot-key exchange
    plan = explain_str(REGISTRY["q_salted_agg"].fn(spark, sf_dir))
    assert plan.count("Exchange") >= 2


def test_q07_dimension_joins_broadcast(spark, sf_dir):
    plan = explain_str(REGISTRY["q07_volume_shipping"].fn(spark, sf_dir))
    # both nation joins broadcast; the shipdate filter reaches the scan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "CartesianProduct" not in plan


def test_chunking_is_map_side_only(spark, sf_dir):
    plan = explain_str(REGISTRY["text_chunk_windows"].fn(spark, sf_dir))
    # scan -> generate(explode) -> project: no shuffle anywhere
    assert "Exchange" not in plan.replace("ReusedExchange", "")
    assert "Generate" in plan


def test_kmeans_assign_broadcasts_centroids(spark, sf_dir):
    plan = explain_str(REGISTRY["q_kmeans_assign"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_contamination_broadcasts_eval_grams(spark, sf_dir):
    plan = explain_str(REGISTRY["text_contamination_13gram"].fn(spark, sf_dir))
    # eval grams are the broadcast build side; the training-side source
    # filter reaches the parquet scan; probe side has no pre-join shuffle
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "PushedFilters: [IsNotNull(source), Not(EqualTo(source,src0))]" in plan


def test_pack_sequences_single_exchange_on_source(spark, sf_dir):
    plan = explain_str(REGISTRY["text_pack_sequences"].fn(spark, sf_dir))
    # per-source window packing: the window partitions by source, and the
    # downstream groupBy(source, pack_id) reuses that partitioning, so
    # exactly one hash exchange total (never a global single-partition
    # sort); formatted explain names each node twice (tree + details)
    assert plan.count("Exchange") == 2
    assert "SinglePartition" not in plan


def test_minhash_gram_path_shuffle_budget(spark, sf_dir):
    """The r4 gram rework's scale claim, asserted on the physical plan:
    gram generation is a pure scan-side map (its only possible Exchange
    is ensure_parallelism's local round-robin — never a hashpartitioning
    of the corpus on doc), and the full signature pipeline carries
    exactly ONE hash exchange (the groupBy partial-agg of k longs/doc)."""
    from pipeline311_spark.ext.dedup import _gram_hash_table, minhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gram_plan = explain_str(_gram_hash_table(docs, "doc_id", "text", 5))
    assert "hashpartitioning" not in gram_plan
    sig_plan = explain_str(minhash_signatures(docs, "doc_id", "text", k=8, n=5))
    # exactly one hash exchange, and it carries the doc key (formatted
    # explain puts partitioning in a single Arguments: line per node)
    assert sig_plan.count("hashpartitioning(doc#") == 1
    assert "HashAggregate" in sig_plan  # partial+final agg, codegen'd


# Queries whose semantics genuinely require a single-partition stage:
# global scalar aggregates (two-phase: the final exchange merges partial
# rows, not data), global sorts, global NTILE (documented in SCALE.md).
_SINGLE_PARTITION_OK = {
    "a1_max_watermark",
    "a3_coalesced_watermark",
    "f3_f4_watermark_boundary",
    "k9_truncate_reload",
    "o2_desc_scan_order",
    "q06_forecast_revenue",
    "q14_promo_share",
    "q15_top_supplier",
    "q17_below_part_average",
    "q19_disjunctive_brackets",
    "q_decile_stats",
    "q_events_funnel",
    "sample_rebalance_sources",
    "t2_backfill_window",
    # bloom filter assembly: global agg over ≤ m/64 pre-reduced word
    # rows (bit_or combined map-side) into the one-row broadcast filter
    # — bytes, not data, cross the single partition (operators/bloom.py)
    "j3_bloom_reconcile",
    "text_contamination_bloom",
    # scalar-over-dimension aggregates: min over the per-source counts
    # table (≤ one row per source) / max over one scalar column — the
    # classic broadcast-watermark shape, bytes not data
    "sample_temperature_mixture",
    "sample_weight_bernoulli",
    # sketch finalization: global agg over ≤ 256 registers (HLL) /
    # ≤ 4096 pre-summed counters + the 10-row probe (CMS) — the sketch
    # IS the single-partition payload, fixed-size by construction
    "sketch_hll_distinct",
    "sketch_hll_merge",
    "sketch_countmin_heavy",
    # one-row rule-counter aggregate (a handful of longs) unpivoted to
    # the per-rule report — bytes, not data, cross the single partition
    "audit_expectations",
    # corpus-stats scalar (N docs + avg doc length, one row) broadcast
    # into the scoring join — the broadcast-watermark shape again; the
    # matched-token aggregation itself stays hash-partitioned
    "text_bm25_topk",
    # inherits text_bm25_topk's corpus-stats scalar (it fuses that
    # ranker's output); the fusion itself is bounded-top-k per query
    "retrieval_hybrid_rrf",
    # rank/cumulative-coverage window over the V=50 rows that survive
    # the TakeOrdered top-V, plus the one-row token-total scalar —
    # bytes, not data, cross the single partition
    "text_vocab_coverage",
    # feature-model totals: one aggregate over the 8192-row hashed
    # feature table (fixed-size by construction, like the sketches)
    "sample_importance_dsir",
}


def test_registry_wide_plan_audit(registry_frames):
    """Every registered query: no cartesian products ever; no
    single-partition stages outside the documented allowlist.
    Frames come from the shared parallel-construction fixture
    (round 12): this audit inspects only the returned plan, so it
    shares one construction pass with the canon-safety audit."""
    for name, df in sorted(registry_frames.items()):
        plan = explain_str(df)
        assert "CartesianProduct" not in plan, name
        if name not in _SINGLE_PARTITION_OK:
            assert "SinglePartition" not in plan, name


def test_aqe_skew_join_split_fires(spark):
    """SCALE.md asserts AQE handles skewed fact⋈fact sort-merge joins;
    prove it executes here: a manufactured 90%-hot key must make the
    FINAL adaptive plan carry a skew-split SMJ ('skew=true'), i.e. the
    oversized partition was subdivided at runtime.  Thresholds are
    lowered to make test-scale bytes trigger the same code path that
    256 MB partitions trigger at 100 TB.  Complementary to
    salted_join/q_salted_join: AQE splits oversized partitions of an
    existing shuffle; salting is for the cases AQE can't touch
    (aggregation hot GROUPS, broadcast-ineligible replays) — see
    operators/skew.py and the tools/skew_probe.py measurements in
    SCALE.md."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # pin explicitly: skew detection compares against the MEDIAN
        # partition size, so a conf left behind by another test (1
        # partition, or hundreds of tiny ones) changes the medians
        "spark.sql.shuffle.partitions": "4",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 90% of the left fact rides ONE key; right fact is modest but
        # above every broadcast threshold we just disabled
        left = spark.range(300_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(5_000).select(
            F.pmod("id", F.lit(100)).alias("k"), (F.col("id") * 2).alias("rv")
        )
        # inspect the SAME DataFrame the action executes: df.count()
        # spins up its own QueryExecution, leaving j's plan un-finalized
        j = left.join(right, "k").agg(F.count(F.lit(1)).alias("n"))
        assert j.collect()[0]["n"] > 0  # finalize AQE
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE skew split did not fire:\n{plan[:2000]}"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
