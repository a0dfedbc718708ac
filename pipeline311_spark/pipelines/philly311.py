"""The three reference dataflows (SURVEY §3), composed from the
engine's operators.  A user of CityOfPhiladelphia/311-data-pipeline
runs these instead of the five scripts:

* :func:`sync_raw`          = sync-db2.py        (SF -> bronze upsert)
* :func:`viewer_merge`      = sync-db2-viewer.py (silver -> gold MERGE)
* :func:`publish_features`  = sync-db2-ago.py    (silver -> feature sink)
* :func:`reconcile`         = delete-removed-tickets.py

Each is a pure DataFrame->DataFrame composition — storage/sink choices
(parquet/Delta/JDBC/REST writer) are injected by the caller, so the
same flow runs on a laptop against parquet and on a cluster against a
warehouse.  Medallion tiers per SURVEY §1.1: bronze = cleaned raw,
silver = enterprise (adds objectid/lat/lon), gold = public viewer
projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipeline311_spark.functions.cleaning import clean_cases
from pipeline311_spark.functions.geo import esri_point_feature, parse_point_ewkt
from pipeline311_spark.functions.text import ago_sanitize
from pipeline311_spark.functions.timeparse import lenient_timestamp, to_local_string
from pipeline311_spark.operators.filters import (
    static_source_filter,
    time_range,
    watermark_filter,
)
from pipeline311_spark.operators.merge import merge_with_surrogate, upsert
from pipeline311_spark.operators.reconcile import reconcile_deletes
from pipeline311_spark.schemas import FIELD_MAP, VIEWER_COLUMNS
from pipeline311_spark.sources.validate import dup_guard, validate_columns


def sync_raw(
    source: DataFrame,
    target: DataFrame,
    key: str = "service_request_id",
    watermark_col: str = "updated_datetime",
    window: tuple | None = None,
) -> DataFrame:
    """sync-db2.py sync(): filter at source (F1), clean (P1-P12), then
    watermark-incremental upsert into the raw/bronze tier (F3+K3).
    ``window`` switches to the year/month/day refresh path (F2/T2).

    ``watermark_col`` names one of the kernel's ``*_datetime`` columns.
    The window/watermark predicate is applied to the raw source, on the
    same parse the kernel gives that column, before cleaning: Catalyst
    does not push a filter below the kernel's nondeterministic fold
    projection, so filtering after ``clean_cases`` would fold every
    source row instead of only the changed ones."""
    filtered = static_source_filter(source)
    src_wm = lenient_timestamp(F.col(FIELD_MAP[watermark_col]))
    if window is not None:
        changed = time_range(filtered, src_wm, *window)
        return upsert(target, clean_cases(changed), key, watermark_col)
    w = target.agg(F.max(watermark_col)).first()[0]
    if w is not None:
        filtered = watermark_filter(filtered, src_wm, w)  # strict (F3)
    return upsert(target, clean_cases(filtered), key, watermark_col)


def publish_enterprise(bronze: DataFrame, silver: DataFrame) -> DataFrame:
    """bronze -> silver ("enterprise") tier: derive lat/lon from the
    EWKT shape, carry a surrogate objectid, merge on the business key."""
    pt = parse_point_ewkt("shape")
    enriched = (
        bronze.withColumn("lat", pt["y"])
        .withColumn("lon", pt["x"])
        .drop("objectid", "gdb_geomattr_data")  # silently ignored if absent
    )
    return merge_with_surrogate(
        silver, enriched, key="service_request_id", version_col="updated_datetime"
    )


def viewer_merge(silver: DataFrame, gold: DataFrame) -> DataFrame:
    """sync-db2-viewer.py: one MERGE with a coalesced watermark (A3/F5/K4)
    into the public projection; only viewer columns survive."""
    w = gold.agg(
        F.coalesce(F.max("updated_datetime"), F.lit("1970-01-01").cast("timestamp"))
    ).first()[0]
    changed = silver.filter(F.col("updated_datetime") > F.lit(w))
    cols = [c for c in VIEWER_COLUMNS if c in silver.columns]
    validate_columns(gold.select(cols), cols)
    return upsert(gold, changed.select(gold.columns), "service_request_id", "updated_datetime")


def publish_features(
    silver: DataFrame,
    published_watermark,
    attrs: list[str],
    tz: str = "America/New_York",
) -> DataFrame:
    """sync-db2-ago.py: changed rows (inclusive watermark F4 — safe
    because the sink upsert is delete-then-add idempotent, SURVEY
    §7.5.5) -> sanitized attributes (P13), edge-rendered timestamps
    (P16), ESRI feature structs (P18).  Feed the result to
    ``sinks.batched_foreach_writer`` with a REST sender for the real
    AGO push (K5-K7)."""
    changed = silver.filter(F.col("updated_datetime") >= F.lit(published_watermark))
    dup_guard(changed, "service_request_id")
    rendered = changed.select(
        "service_request_id",
        "shape",
        *[ago_sanitize(c).alias(c) for c in attrs],
        to_local_string("updated_datetime", tz).alias("updated_datetime_local"),
    )
    feature_attrs = [F.col("service_request_id")] + [F.col(c) for c in attrs] + [
        F.col("updated_datetime_local")
    ]
    return rendered.select(
        "service_request_id",
        F.to_json(esri_point_feature("shape", feature_attrs)).alias("feature_json"),
    )


def reconcile(
    raw: DataFrame,
    viewer: DataFrame,
    tombstones: DataFrame,
    source_ids: DataFrame,
    key: str = "service_request_id",
) -> dict[str, DataFrame]:
    """delete-removed-tickets.py as one anti-join reconciliation."""
    return reconcile_deletes(raw, viewer, tombstones, source_ids, key)
