"""Tests for the sheets-style source and the as-of join operator."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from chilekids_etl_pipeline_spark.operators.asof import asof_join
from chilekids_etl_pipeline_spark.sources.sheets import (
    detect_id_key,
    fetch_google_sheets,
    load_sheet_values,
    records_to_raw_df,
    values_to_records,
)


def test_values_to_records_pads_and_filters():
    values = [
        ["ID", "Client", "Total RUB"],
        ["1", "Acme", "1 234,56"],
        ["", "", ""],  # blank row dropped
        ["2", "Globex"],  # ragged row padded
    ]
    recs = values_to_records(values)
    assert len(recs) == 2
    assert recs[1] == {"ID": "2", "Client": "Globex", "Total RUB": ""}


def test_detect_id_key_case_insensitive():
    assert detect_id_key({"Id": 1, "x": 2}) == "Id"
    assert detect_id_key({"ROW_ID": 1}) == "ROW_ID"
    assert detect_id_key({"name": "x"}) is None


def test_records_to_raw_df_explicit_and_fallback_ids(spark):
    recs = [{"id": "42", "v": "a"}, {"v": "b"}, {"v": "b"}]
    df = records_to_raw_df(spark, recs).collect()
    assert df[0].id == "42"
    assert df[1].id.startswith("sheet_auto_")
    # same content, different row number → distinct fallback ids, same hash
    assert df[1].id != df[2].id
    assert df[1].payload_hash == df[2].payload_hash


@pytest.mark.parametrize("records", [
    [],
    [{"id": "r-1", "Клиент": "ООО «Ромашка»", "Total RUB": "1\u00a0234,56 ₽"},
     {"id": "r-2", "Категория": "Аренда\u00a0офиса", "v": "€ ¥ ₽"}],
    [{"Client": "Acme", "v": "1"}, {"Client": "Acme", "v": "1"},
     {"Client": "Ромашка", "v": "\u00a0"}],
], ids=["empty", "non_ascii", "sheet_auto_ids"])
def test_raw_rows_to_df_matches_the_row_list_path(spark, tmp_path, records):
    """The Arrow-built raw frame has the schema and rows that
    ``createDataFrame`` over the row tuples gives, in memory and as
    written to a raw directory."""
    from chilekids_etl_pipeline_spark.sources.sheets import (
        RAW_COLS, RAW_SCHEMA, raw_rows_to_df, records_to_raw_rows,
    )

    rows = records_to_raw_rows(records, "google_sheets")
    got = raw_rows_to_df(spark, rows)
    want = spark.createDataFrame(
        rows, "id string, source string, payload string, payload_hash string"
    ).withColumn("extracted_at", F.current_timestamp())
    assert got.schema == want.schema
    cols = list(RAW_COLS)
    assert sorted(got.select(*cols).collect()) == sorted(rows)
    assert sorted(want.select(*cols).collect()) == sorted(rows)
    assert all(r.extracted_at is not None for r in got.collect())

    got.write.parquet(str(tmp_path / "arrow"))
    want.write.parquet(str(tmp_path / "list"))
    back = [spark.read.parquet(str(tmp_path / d)) for d in ("arrow", "list")]
    assert back[0].schema == back[1].schema
    assert back[0].schema.simpleString() == spark.read.schema(
        RAW_SCHEMA).parquet(str(tmp_path / "arrow")).schema.simpleString()
    assert sorted(back[0].select(*cols).collect()) == sorted(rows)


def test_load_sheet_values_roundtrip(spark, tmp_path):
    payload = {"values": [["pk", "amount"], ["7", "(100)"], ["8", "€12,5"]]}
    p = tmp_path / "sheet.json"
    p.write_text(json.dumps(payload))
    df = load_sheet_values(spark, str(p))
    rows = {r.id: json.loads(r.payload) for r in df.collect()}
    assert rows["7"]["amount"] == "(100)"
    assert set(rows) == {"7", "8"}


def test_df_to_sheet_values_roundtrip(spark):
    from chilekids_etl_pipeline_spark.sources.sheets import df_to_sheet_values

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 3.5)], "id long, name string, x double"
    )
    payload = df_to_sheet_values(df)
    assert payload["values"][0] == ["id", "name", "x"]
    rows = sorted(payload["values"][1:])
    assert rows == [["1", "a", ""], ["2", "b", "3.5"]]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        df_to_sheet_values(df, max_rows=1)


def test_fetch_stub_raises():
    # asyncio.run creates a fresh loop: get_event_loop() is
    # order-dependent (fails after any test that ran asyncio.run and
    # left no current loop on the main thread)
    import asyncio

    with pytest.raises(NotImplementedError):
        asyncio.run(fetch_google_sheets("x"))


def test_asof_join_matches_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, 20, "p2"), (2, 5, "p3")], "k int, ts int, name string"
    )
    right = spark.createDataFrame(
        [(1, 5, 100.0), (1, 10, 200.0), (1, 15, 300.0), (3, 1, 999.0)],
        "k int, ts int, px double",
    )
    out = {
        r.name: (r.asof_ts, r.asof_px)
        for r in asof_join(left, right, on="k", ts="ts", right_cols=["px"]).collect()
    }
    assert out["p1"] == (10, 200.0)  # equal ts matches
    assert out["p2"] == (15, 300.0)  # latest before
    assert out["p3"] == (None, None)  # no right rows for key 2


def test_csv_json_roundtrip_with_quarantine(spark, tmp_path):
    from chilekids_etl_pipeline_spark.sources.formats import (
        read_csv,
        read_json_lines,
        split_corrupt,
    )

    csv_p = tmp_path / "ev.csv"
    csv_p.write_text(
        "event_id,event_type,value\n"
        "1,click,1.5\n"
        "2,view,2.25\n"
        "not_a_number,purchase,oops,extra\n"  # malformed → quarantine
        "4,click,0.75\n"
    )
    df = read_csv(spark, str(csv_p), "event_id long, event_type string, value double")
    clean, quarantine = split_corrupt(df)
    assert clean.count() == 3
    assert {r.event_id for r in clean.collect()} == {1, 2, 4}
    q = quarantine.collect()
    assert len(q) == 1 and q[0].raw_record.startswith("not_a_number")

    jl_p = tmp_path / "ev.jsonl"
    jl_p.write_text(
        '{"event_id": 1, "event_type": "click", "value": 1.5}\n'
        "this is not json\n"
        '{"event_id": 3, "event_type": "view", "value": 2.0}\n'
    )
    dj = read_json_lines(spark, str(jl_p), "event_id long, event_type string, value double")
    clean_j, quar_j = split_corrupt(dj)
    assert clean_j.count() == 2
    assert quar_j.count() == 1
