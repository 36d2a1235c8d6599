"""CSV ingest/egress path under test (VERDICT round-1 gap #3).

Covers S1 (listing), P1 (path predicate), T1 (latest-k), S2 (scan) and S3
(sink) against pandas-written fixtures — the reference writes its CSVs with
pandas ``to_csv`` (dag/vacancy_pipline_gpt_rerty.py:827-830), so parity means
round-tripping RFC-4180 doubled-quote quoting, embedded commas/quotes,
literal backslashes, Cyrillic text, and the utf-8-sig BOM.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pandas as pd
import pytest

from vacancy_gpt_etl_pipeline_spark.sources.csv_source import (
    latest_k_paths,
    list_csv_files,
    read_vacancies_csv,
)
from vacancy_gpt_etl_pipeline_spark.sources.sinks import (
    timestamped_path,
    write_normalized_csv,
)

# the awkward strings the escape convention must survive: embedded commas,
# doubled quotes, literal backslashes, Cyrillic, leading/trailing spaces
TRICKY_TITLES = [
    'Аналитик данных, "senior"',
    "C:\\path\\to\\nowhere",
    'a "quoted" word',
    "  padded  ",
    "обычный заголовок",
]


def _write_fixture_csv(path, rows):
    pd.DataFrame(
        rows, columns=["id", "title", "ai_field_of_activity", "salary_to", "created_at"]
    ).to_csv(path, index=False, encoding="utf-8-sig", sep=",", quotechar='"')


@pytest.fixture(scope="module")
def csv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("vacancies")
    for i in range(6):
        rows = [
            [f"f{i}-r{j}", TRICKY_TITLES[j % len(TRICKY_TITLES)], "IT", 100000 + j, "2024-01-15"]
            for j in range(3)
        ]
        _write_fixture_csv(d / f"vacancies_2024010{i}_000000.csv", rows)
    # files the P1 predicate must exclude:
    (d / "notes.txt").write_text("not a csv")
    (d / "x.csv").write_text("id\n1\n")  # name too short (len <= 10)
    return str(d)


def test_list_csv_files_applies_path_predicate(spark, csv_dir):
    files = list_csv_files(spark, csv_dir)
    assert len(files) == 6
    assert all(f.endswith(".csv") for f in files)
    assert not any("notes.txt" in f or "/x.csv" in f for f in files)
    assert files == sorted(files)


def test_latest_k_picks_newest_by_name(spark, csv_dir):
    files = list_csv_files(spark, csv_dir)
    picked = latest_k_paths(files, k=4)
    assert len(picked) == 4
    # timestamped names sort lexicographically == chronologically
    assert picked == sorted(files)[-4:]
    assert all("2024010" in p for p in picked)
    suffixes = sorted(p.rsplit("/", 1)[-1] for p in picked)
    assert suffixes[0] == "vacancies_20240102_000000.csv"


@pytest.mark.parametrize("k", [0, -1])
def test_latest_k_below_one_is_rejected(k):
    # sorted(paths)[-k:] would read every file for k=0 and drop the
    # oldest for k=-1
    files = [f"vacancies_2024010{i}_000000.csv" for i in range(3)]
    with pytest.raises(ValueError, match="at least 1"):
        latest_k_paths(files, k=k)


def test_read_round_trips_pandas_quoting(spark, csv_dir):
    files = latest_k_paths(list_csv_files(spark, csv_dir), k=1)
    df = read_vacancies_csv(spark, files)
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == 3
    for j in range(3):
        r = rows[f"f5-r{j}"]
        assert r["title"] == TRICKY_TITLES[j % len(TRICKY_TITLES)]
        assert r["salary_to"] == Decimal(100000 + j)
        assert r["created_at"] == dt.date(2024, 1, 15)
        assert r["_input_file"].endswith("vacancies_20240105_000000.csv")


def test_multi_path_read_is_union_all(spark, csv_dir):
    files = latest_k_paths(list_csv_files(spark, csv_dir), k=4)
    df = read_vacancies_csv(spark, files)
    assert df.count() == 12
    assert df.select("_input_file").distinct().count() == 4


def test_single_file_sink_writes_bom_and_round_trips(spark, csv_dir, tmp_path):
    files = latest_k_paths(list_csv_files(spark, csv_dir), k=2)
    df = read_vacancies_csv(spark, files).drop("_input_file")
    out = timestamped_path(str(tmp_path), now=dt.datetime(2024, 2, 1, 12, 30, 45))
    assert out.endswith("vacancies_normalized_20240201_123045.csv")
    write_normalized_csv(df, out, single_file=True, bom=True)

    raw = open(out, "rb").read()
    assert raw.startswith(b"\xef\xbb\xbf"), "utf-8-sig BOM missing (dag/...py:830)"

    # pandas (the reference's own reader/writer) must see identical content
    back = pd.read_csv(out, encoding="utf-8-sig")
    assert len(back) == 6
    assert set(back["title"]) == {TRICKY_TITLES[j] for j in range(3)}

    # ...and so must our own scan
    ours = read_vacancies_csv(spark, out, with_provenance=False)
    assert sorted((r["id"], r["title"]) for r in ours.collect()) == sorted(
        (r["id"], r["title"]) for r in df.collect()
    )


def test_distributed_sink_round_trips(spark, csv_dir, tmp_path):
    files = latest_k_paths(list_csv_files(spark, csv_dir), k=3)
    df = read_vacancies_csv(spark, files).drop("_input_file")
    out = str(tmp_path / "sharded")
    write_normalized_csv(df, out, single_file=False)
    back = read_vacancies_csv(spark, out, with_provenance=False)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
