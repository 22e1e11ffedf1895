"""End-to-end parity of the CES-shaped pipeline (SURVEY.md §3 entry
points 1-2) against an independent pandas re-implementation of the
reference semantics, on FIXTURES.md-shaped synthetic data (including
the edge cases the fixtures mandate: M13 annual rows, garbage numeric
values, whitespace-padded keys, NULL naics codes)."""

from __future__ import annotations

import pandas as pd
import pytest

from mcm_problem_f_data_wrangling_spark.functions.cleaning import strip_keys
from mcm_problem_f_data_wrangling_spark.operators.collapse import collapse_career
from mcm_problem_f_data_wrangling_spark.operators.dictionary import (
    build_series_dictionary,
    search_industries,
)
from mcm_problem_f_data_wrangling_spark.operators.extract import extract_proxy_dataset

# the reference's raw CES tables, all-string on load exactly like the
# reference (bls_ces/load_CES_pandas.py:21-27, :63 dtype="string")
CES_DATA = "series_id string, year string, period string, value string"
CES_SERIES = "series_id string, industry_code string, data_type_code string, seasonal string"
CES_INDUSTRY = "industry_code string, naics_code string, industry_name string"
CES_DATATYPE = "data_type_code string, data_type_text string"

EMP = "ALL EMPLOYEES, THOUSANDS"
EARN = "AVERAGE HOURLY EARNINGS OF ALL EMPLOYEES"


@pytest.fixture(scope="module")
def ces(spark):
    data_rows = []
    # two industries x two measures x 14 periods (M01-M12 + M13 + garbage)
    for sid, mult in [("CES001", 1.0), ("CES002", 2.0), ("CES101", 10.0), ("CES102", 3.0)]:
        for m in range(1, 14):  # M13 annual-average row must be filtered out
            data_rows.append((f" {sid} ", "2024", f"M{m:02d}", str(round(mult * m, 1))))
    data_rows.append(("CES001", "2024", "M01", "not-a-number"))  # coerce→NULL
    data = spark.createDataFrame(data_rows, CES_DATA)
    series = spark.createDataFrame(
        [
            ("CES001", "IND1", "01", "S"),
            ("CES002", "IND2", "01", "S"),
            ("CES101", "IND1", "03", "S"),
            ("CES102", "IND2", "03", "S"),
        ],
        CES_SERIES,
    )
    industry = spark.createDataFrame(
        [
            ("IND1", "8111", "Automotive Repair and Maintenance"),
            ("IND2", "81112", "Specialized repair shops"),
            ("IND3", None, "Unrelated Industry"),  # NULL naics (na=False path)
        ],
        CES_INDUSTRY,
    )
    datatype = spark.createDataFrame([("01", EMP), ("03", EARN)], CES_DATATYPE)
    return data, series, industry, datatype


def test_dictionary_build(ces, spark):
    _, series, industry, datatype = ces
    d = build_series_dictionary(series, industry, datatype)
    rows = {r["series_id"]: r for r in d.collect()}
    assert len(rows) == 4
    assert rows["CES001"]["industry_name"] == "Automotive Repair and Maintenance"
    assert rows["CES001"]["naics_code"] == "8111"
    assert rows["CES101"]["datatype_text"] == EARN


def test_industry_search(ces):
    _, _, industry, _ = ces
    hits = search_industries(industry, "REPAIR")
    names = [r["industry_name"] for r in hits.collect()]
    assert names == ["Automotive Repair and Maintenance", "Specialized repair shops"]


def test_extract_and_collapse_parity(ces, spark):
    data, series, industry, datatype = ces
    d = build_series_dictionary(series, industry, datatype)
    extract = extract_proxy_dataset(
        strip_keys(data, ["series_id"]),
        d,
        industry_codes=["IND"],  # prefix match hits IND1+IND2
        measures=[EMP, EARN],
        seasonal="S",
    )
    pdf = extract.toPandas()
    # M13 filtered, garbage row coerced to NULL, 10-column schema
    assert set(pdf["period"]) == {f"M{m:02d}" for m in range(1, 13)}
    assert pdf.shape[1] == 10
    assert pdf["value"].isna().sum() == 1  # the not-a-number row
    assert str(pdf["date"].min()) == "2024-01-01"

    out = collapse_career(extract).toPandas()
    # independent pandas mirror of prep_CES_pandas.py:69-102
    emp = pdf[pdf["datatype_text"] == EMP]
    earn = pdf[pdf["datatype_text"] == EARN]
    emp_m = emp.groupby("date", as_index=False)["value"].sum(min_count=1)
    w = emp.rename(columns={"value": "w"})[["date", "industry_code", "w"]]
    ew = earn.merge(w, on=["date", "industry_code"], how="left")
    earn_m = ew.groupby("date")[["value", "w"]].apply(
        lambda g: (g["value"] * g["w"]).sum() / g["w"].sum()
    )
    for _, row in out.iterrows():
        exp_emp = emp_m.loc[emp_m["date"] == row["date"], "value"].iloc[0]
        assert row["employment_thousands"] == pytest.approx(exp_emp, rel=1e-9)
        exp_earn = earn_m.loc[row["date"]]
        assert row["avg_hourly_earnings"] == pytest.approx(exp_earn, rel=1e-9)
    # monthly ordering (W10)
    assert list(out["date"]) == sorted(out["date"])


def test_collapse_multi_career_single_plan(ces, spark):
    """The per-career Python loop becomes ONE grouped plan (scale path)."""
    data, series, industry, datatype = ces
    d = build_series_dictionary(series, industry, datatype)
    extract = extract_proxy_dataset(
        strip_keys(data, ["series_id"]), d, ["IND"], [EMP, EARN]
    ).withColumn("career", __import__("pyspark").sql.functions.lit("mechanic"))
    out = collapse_career(extract, extra_keys=["career"])
    assert out.columns[0] == "career"
    assert out.count() == 12
