"""End-to-end medallion flow: Salesforce-shaped rows -> sync_raw
(bronze) -> publish_enterprise (silver) -> viewer_merge (gold) ->
publish_features (sink encoding) -> reconcile (deletions).  The full
reference pipeline (SURVEY §3.1-3.3) in one test."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from pipeline311_spark.pipelines import (
    publish_enterprise,
    publish_features,
    reconcile,
    sync_raw,
    viewer_merge,
)
from pipeline311_spark.schemas import SF_CASE_RAW


def sf_row(case, status="Open", lon="-75.16", lat="39.95", updated="2024-03-15T09:30:00.000+0000",
           record_type="Service Request", record_type_id="012XXX"):
    base = {f.name: None for f in SF_CASE_RAW.fields}
    base.update(
        CaseNumber=str(case),
        Status=status,
        Description=f"case {case}",
        CreatedDate="2024-03-15T08:30:00.000+0000",
        LastModifiedDate=updated,
        Centerline__Longitude__s=lon,
        Centerline__Latitude__s=lat,
        Case_Record_Type__c=record_type,
        RecordTypeId=record_type_id,
        Status_Update__c="in progress",
        Close_Reason__c="done",
    )
    return base


@pytest.fixture()
def source(spark):
    rows = [
        sf_row(1),
        sf_row(2, status="Closed"),
        sf_row(3, lon="0"),  # shape must be NULL
        sf_row(4, record_type="Agency Receivables"),  # F1-filtered
        sf_row(5, record_type_id="012G00000014BhVIAU"),  # F1-filtered
    ]
    return spark.createDataFrame(rows, SF_CASE_RAW)


def empty_like(spark, df):
    return spark.createDataFrame([], df.schema)


def test_full_medallion_flow(spark, source):
    from pipeline311_spark.functions.cleaning import clean_cases

    bronze0 = empty_like(spark, clean_cases(source))
    bronze = sync_raw(source, bronze0)

    # F1 dropped rows 4, 5; cleaning ran
    keys = {r["service_request_id"] for r in bronze.collect()}
    assert keys == {1, 2, 3}
    by_key = {r["service_request_id"]: r for r in bronze.collect()}
    assert by_key[2]["status_notes"] == "done"  # Closed -> Close_Reason__c
    assert by_key[1]["status_notes"] == "in progress"
    assert by_key[3]["shape"] is None and by_key[1]["shape"] is not None

    # silver: surrogate ids + lat/lon derivation
    silver0 = empty_like(spark, publish_enterprise(bronze, _with_objectid(spark, bronze)))
    silver = publish_enterprise(bronze, silver0)
    srows = {r["service_request_id"]: r for r in silver.collect()}
    assert srows[1]["lat"] == 39.95 and srows[1]["lon"] == -75.16
    assert sorted(r["objectid"] for r in silver.collect()) == [1, 2, 3]

    # gold: watermark MERGE of the viewer projection
    gold = viewer_merge(silver, empty_like(spark, silver))
    assert gold.count() == 3

    # incremental: a newer update for case 1 flows through, stale ignored
    upd = spark.createDataFrame(
        [sf_row(1, status="Closed", updated="2024-03-16T12:00:00.000+0000"),
         sf_row(2, updated="2024-01-01T00:00:00.000+0000")],  # stale
        SF_CASE_RAW,
    )
    bronze2 = sync_raw(upd, bronze)
    b2 = {r["service_request_id"]: r for r in bronze2.collect()}
    assert b2[1]["status"] == "Closed"
    assert b2[2]["status"] == "Closed"  # original newer row retained

    # feature publication: ESRI JSON with sanitized attrs
    feats = publish_features(
        silver, published_watermark="2024-01-01", attrs=["status", "description"]
    )
    parsed = {r["service_request_id"]: json.loads(r["feature_json"]) for r in feats.collect()}
    assert parsed[1]["geometry"]["x"] == -75.16
    assert parsed[1]["attributes"]["description"] == "case 1"

    # reconciliation: source no longer has case 3
    live = spark.createDataFrame([(1,), (2,)], "service_request_id long")
    state = reconcile(bronze2, gold, empty_like(spark, bronze2), live)
    assert {r["service_request_id"] for r in state["deleted"].collect()} == {3}
    assert {r["service_request_id"] for r in state["raw"].collect()} == {1, 2}
    assert state["tombstones"].count() == 1


def _with_objectid(spark, bronze):
    from pyspark.sql import functions as F

    return bronze.withColumn("objectid", F.lit(0).cast("long")).withColumn(
        "lat", F.lit(0.0)
    ).withColumn("lon", F.lit(0.0))


def test_backfill_window_path(spark, source):
    from pipeline311_spark.functions.cleaning import clean_cases

    bronze0 = empty_like(spark, clean_cases(source))
    got = sync_raw(source, bronze0, window=("2024-03-15 00:00:00", "2024-03-16 00:00:00"))
    assert got.count() == 3
    none = sync_raw(source, bronze0, window=("2020-01-01 00:00:00", "2020-02-01 00:00:00"))
    assert none.count() == 0


@pytest.mark.parametrize("window", [None, ("2024-03-15 00:00:00", "2024-03-16 00:00:00")])
def test_sync_raw_filters_below_fold(spark, source, window):
    """The watermark/window predicate must sit BELOW the cleaning
    kernel's NFKD fold projection, so an incremental sync folds only the
    changed rows.  ``reflect`` is nondeterministic, so Catalyst never
    moves a filter across that projection by itself — ``sync_raw`` has
    to filter the raw source (``LastModifiedDate``) first."""
    from pipeline311_spark.functions.cleaning import clean_cases

    cleaned = clean_cases(source)
    # a materialized target with a non-NULL watermark and no kernel in
    # its lineage, so the only fold projection is the source side's
    target = spark.createDataFrame(cleaned.collect(), cleaned.schema)
    out = sync_raw(source, target, window=window)

    def walk(node, above=()):
        yield node, above
        kids = node.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i), above + (node,))

    def is_fold(node):
        return node.nodeName() == "Project" and "Normalizer" in node.projectList().toString()

    nodes = list(walk(out._jdf.queryExecution().optimizedPlan()))
    plan = out._jdf.queryExecution().optimizedPlan().treeString()
    assert sum(is_fold(n) for n, _ in nodes) == 1, plan
    src_filters = [
        above for n, above in nodes
        if n.nodeName() == "Filter" and "LastModifiedDate" in n.condition().toString()
    ]
    assert len(src_filters) == 1, plan
    assert any(is_fold(a) for a in src_filters[0]), plan
