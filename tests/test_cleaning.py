"""Golden-row tests for the cleaning kernel — the dirty-value catalog
from FIXTURES.md (emoji, ordinal districts, >100 districts, zero
coords, None private flag, '0' parent ids, +0000 timestamps,
NULL-vs-'' conventions)."""

from __future__ import annotations

import datetime as dt

import pytest

from pipeline311_spark.functions.cleaning import clean_cases
from pipeline311_spark.schemas import SF_CASE_RAW


def make_row(**overrides):
    base = {f.name: None for f in SF_CASE_RAW.fields}
    base.update(
        {
            "CaseNumber": "12345",
            "Status": "Open",
            "Description": "A pothole",
            "CreatedDate": "2024-03-15T08:30:00.000+0000",
            "LastModifiedDate": "2024-03-15T09:30:00.000+0000",
        }
    )
    base.update(overrides)
    return base


def run_kernel(spark, rows):
    df = spark.createDataFrame([make_row(**r) for r in rows], schema=SF_CASE_RAW)
    return clean_cases(df).collect()


def test_basic_projection_and_pk(spark):
    [out] = run_kernel(spark, [{}])
    assert out["service_request_id"] == 12345
    assert out["status"] == "Open"
    assert out["description"] == "A pothole"
    assert out["description_full"] == "A pothole"


def test_emoji_and_edge_strip(spark):
    long_desc = "<'Café pothole \U0001f6a7 " + "x" * 2500 + "'>"
    [out] = run_kernel(spark, [{"Description": long_desc}])
    # NFKD + ascii-ignore drops the emoji, decomposes é -> e; edge <>' stripped
    assert out["description_full"].startswith("Cafe pothole  x")
    assert len(out["description_full"]) == 2000
    assert len(out["description"]) == 250
    assert out["description"] == out["description_full"][:250]


def test_null_description_conventions(spark):
    # reference: description -> '' (TEXT_FIELDS guard), description_full stays NULL
    [out] = run_kernel(spark, [{"Description": None}])
    assert out["description"] == ""
    assert out["description_full"] is None


def test_district_extraction(spark):
    rows = [
        {"Police_District__c": "The 22nd", "Council_District_No__c": "7"},
        {"Police_District__c": "911", "Council_District_No__c": "n/a"},
        {"Police_District__c": None, "Council_District_No__c": "PPD-0"},
    ]
    out = run_kernel(spark, rows)
    assert [r["police_district"] for r in out] == [22, None, None]
    assert [r["council_district_num"] for r in out] == [7, None, 0]


def test_private_flag_null_is_private(spark):
    rows = [
        {"Private_Case__c": "false"},
        {"Private_Case__c": "true"},
        {"Private_Case__c": None},  # reference: null -> 1 (common.py:184-186)
    ]
    out = run_kernel(spark, rows)
    assert [r["private_case"] for r in out] == [0, 1, 1]


def test_geometry_zero_coord_nulls_shape(spark):
    rows = [
        {"Centerline__Longitude__s": "-75.16", "Centerline__Latitude__s": "39.95"},
        {"Centerline__Longitude__s": "0", "Centerline__Latitude__s": "39.95"},
        {"Centerline__Longitude__s": "oops", "Centerline__Latitude__s": "39.95"},
        {"Centerline__Longitude__s": None, "Centerline__Latitude__s": "39.95"},
    ]
    out = run_kernel(spark, rows)
    assert out[0]["shape"] == "SRID=4326;POINT (-75.16 39.95)"
    assert [r["shape"] for r in out[1:]] == [None, None, None]


def test_status_notes_branch(spark):
    rows = [
        {"Status": "Closed", "Close_Reason__c": "fixed", "Status_Update__c": "wip"},
        {"Status": "Open", "Close_Reason__c": "fixed", "Status_Update__c": "wip"},
        {"Status": "Open", "Close_Reason__c": None, "Status_Update__c": None},
    ]
    out = run_kernel(spark, rows)
    # status_notes is in TEXT_FIELDS -> NULL becomes ''
    assert [r["status_notes"] for r in out] == ["fixed", "wip", ""]


def test_parent_id_zero_and_garbage(spark):
    rows = [
        {"SAG_Parent_Case_Number__c": "678"},
        {"SAG_Parent_Case_Number__c": "0"},
        {"SAG_Parent_Case_Number__c": "12.5"},
        {"SAG_Parent_Case_Number__c": None},
    ]
    out = run_kernel(spark, rows)
    assert [r["parent_service_request_id"] for r in out] == [678, None, None, None]


def test_timestamp_parse_and_instant(spark):
    rows = [
        {"CreatedDate": "2024-03-15T08:30:00.000+0000"},
        {"CreatedDate": "not a date"},
        {"CreatedDate": None},
    ]
    out = run_kernel(spark, rows)
    # session tz is UTC: +0000 string -> exact instant
    assert out[0]["requested_datetime"] == dt.datetime(2024, 3, 15, 8, 30)
    assert out[1]["requested_datetime"] is None
    assert out[2]["requested_datetime"] is None


def test_pinpoint_and_plate(spark):
    [out] = run_kernel(
        spark,
        [{"Pinpoint_Area__c": "  NE Corner ", "License_Plate_State__c": "P" * 45}],
    )
    assert out["pinpoint_area"] == "ne corner"
    assert len(out["vehicle_license_plate_state"]) == 30


def test_text_fields_null_to_empty(spark):
    [out] = run_kernel(spark, [{"Street__c": None, "ZipCode__c": None, "Subject": None}])
    assert out["address"] == ""
    assert out["zipcode"] == ""
    assert out["subject"] == ""
    # datetime columns keep NULL (P14 convention is separate, edge-side)
    assert out["closed_datetime"] is None


def test_nfkd_ascii_exhaustive(spark):
    """``nfkd_ascii`` equals ``unicodedata.normalize('NFKD', s)
    .encode('ascii', 'ignore').decode()`` on every non-surrogate code
    point, each inside ASCII context and alone, plus NULL.

    Checking one code point at a time proves the fold equal on every
    string: NFKD decomposes each code point independently, and canonical
    reordering only moves marks with a nonzero combining class — no
    ASCII character has one — so the ASCII residue of a string is the
    concatenation of the residues of its code points.

    Raw ICU (without the alignment strip) must disagree with Python on
    exactly ``ICU_ONLY_ASCII_FOLDS``, so a Python or ICU upgrade that
    moves the delta fails here instead of drifting silently."""
    import unicodedata

    import pyarrow as pa
    from pyspark.sql import functions as F

    from pipeline311_spark.functions.text import (
        ICU_ONLY_ASCII_FOLDS,
        _icu_nfkd_ascii,
        nfkd_ascii,
    )

    single = [c for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    cps = single + single
    vals = ["a" + chr(c) + "b" for c in single] + [chr(c) for c in single]
    want = [unicodedata.normalize("NFKD", v).encode("ascii", "ignore").decode() for v in vals]
    table = pa.table(
        {"cp": cps + [-1], "v": vals + [None], "want": want + [None]},
        schema=pa.schema([("cp", pa.int32()), ("v", pa.string()), ("want", pa.string())]),
    )
    df = spark.createDataFrame(table)
    v, w = F.col("v"), F.col("want")
    raw = F.when(v.isNotNull(), _icu_nfkd_ascii(v))
    bad = df.select(
        "cp",
        (~nfkd_ascii(v).eqNullSafe(w)).alias("fold_diff"),
        (~raw.eqNullSafe(w)).alias("raw_diff"),
    ).filter("fold_diff OR raw_diff").collect()

    assert [r["cp"] for r in bad if r["fold_diff"]] == []
    lo, hi = ICU_ONLY_ASCII_FOLDS
    assert {r["cp"] for r in bad if r["raw_diff"]} == set(range(lo, hi + 1))
