"""CLI entry point (python -m vacancy_gpt_etl_pipeline_spark)."""

from __future__ import annotations

import io

import pandas as pd
import pytest

from vacancy_gpt_etl_pipeline_spark.__main__ import main
from vacancy_gpt_etl_pipeline_spark.queries import REGISTRY


def test_list_names_every_registry_query():
    buf = io.StringIO()
    assert main(["list"], out=buf) == 0
    assert buf.getvalue().splitlines() == list(REGISTRY)


def test_query_unknown_name_is_an_error():
    buf = io.StringIO()
    assert main(["query", "nope", "--sf-dir", "/tmp"], out=buf) == 2


@pytest.mark.parametrize("k", ["0", "-1"])
def test_pipeline_latest_k_below_one_is_an_error(tmp_path, capsys, k):
    argv = ["pipeline", "--input", str(tmp_path), "--output", str(tmp_path)]
    with pytest.raises(SystemExit) as exc:
        main(argv + ["--latest-k", k], out=io.StringIO())
    assert exc.value.code == 2
    assert "--latest-k: must be at least 1" in capsys.readouterr().err


def test_query_emits_csv_and_jsonl(spark, sf_dir):
    buf = io.StringIO()
    assert (
        main(
            ["query", "a4_frequency", "--sf-dir", sf_dir, "--limit", "3"],
            out=buf,
        )
        == 0
    )
    lines = buf.getvalue().splitlines()
    assert len(lines) == 4  # header + 3 rows
    assert lines[0].split(",")[0] in ("o_orderpriority", "o_orderstatus", lines[0].split(",")[0])

    buf = io.StringIO()
    assert (
        main(
            [
                "query",
                "a4_frequency",
                "--sf-dir",
                sf_dir,
                "--limit",
                "2",
                "--format",
                "jsonl",
            ],
            out=buf,
        )
        == 0
    )
    import json

    rows = [json.loads(line) for line in buf.getvalue().splitlines()]
    assert len(rows) == 2 and all(isinstance(r, dict) for r in rows)


def test_pipeline_end_to_end_mock(spark, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    pd.DataFrame(
        [
            ["1", "Аналитик данных", "финансы", 100, "2024-01-01"],
            ["2", "Разработчик", "айти", 200, "2024-01-02"],
        ],
        columns=["id", "title", "ai_field_of_activity", "salary_to", "created_at"],
    ).to_csv(raw / "vacancies_20240101_000000.csv", index=False, encoding="utf-8-sig")
    out_dir = tmp_path / "out"
    buf = io.StringIO()
    assert (
        main(
            ["pipeline", "--input", str(raw), "--output", str(out_dir)],
            out=buf,
        )
        == 0
    )
    sink_path = buf.getvalue().strip()
    assert sink_path.startswith(str(out_dir))
    got = spark.read.option("header", True).csv(sink_path)
    rows = {r["id"]: r for r in got.collect()}
    assert rows["1"]["normalized_title"] == "Аналитик данных"
    assert rows["2"]["normalized_title"] == "Разработчик"


def test_pipeline_http_without_key_is_an_error(tmp_path, monkeypatch):
    monkeypatch.delenv("LLM_API_KEY", raising=False)
    assert (
        main(
            [
                "pipeline",
                "--input",
                str(tmp_path),
                "--output",
                str(tmp_path),
                "--enricher",
                "http",
            ]
        )
        == 2
    )
