"""Shared delivery protocol of the streaming dedup gates
(streaming/gate.py): a file-less index left by a failed first append
reads as empty history in every gate, and every gate compactor refuses
to replace an existing destination."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
    synthesize_bmp_payload,
)
from vacancy_gpt_etl_pipeline_spark.operators.phash import (
    video_phash_incremental,
)
from vacancy_gpt_etl_pipeline_spark.streaming import (
    fp_gate,
    neardup_gate,
    phash_gate,
    semdedup_gate,
    seq_near_gate,
)
from vacancy_gpt_etl_pipeline_spark.streaming.gate import BATCH_COL


def _phash(spark, sf_dir, out, p):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = synthesize_bmp_payload(docs.where("doc_id < 12"), "doc_id")
    phash_gate.apply_phash_gate_batch(batch, 0, out, p["index"])


def _fp(spark, sf_dir, out, p):
    batch = spark.createDataFrame(
        [(1, "7-8-9", 3), (2, "7-8-9", 3), (3, "4", 1)],
        "asset_id long, video_fp string, n_frames int",
    )
    fp_gate.apply_fp_gate_batch(
        batch,
        0,
        out,
        p["index"],
        lambda df: df,
        video_phash_incremental,
        "video_fp",
    )


def _seq_near(spark, sf_dir, out, p):
    batch = spark.createDataFrame(
        [(1, "3-4-5-2-7"), (2, "3-4-5-2-8"), (3, "6-1")],
        f"asset_id long, {seq_near_gate.SEQ_COL} string",
    )
    seq_near_gate.apply_seq_near_gate_batch(
        batch, 0, lambda df: df, out, p["index"]
    )


def _neardup(spark, sf_dir, out, p):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = docs.where("doc_id < 12").select("doc_id", "text")
    neardup_gate.apply_neardup_gate_batch(
        batch, 0, out, p["hash"], p["postings"]
    )


def _semdedup(spark, sf_dir, out, p):
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    semdedup_gate.apply_semdedup_gate_batch(
        vecs.where("vec_id < 200"), 0, out, p["index"], p["cents"], dim=64
    )


#: gate -> (its state directories, one micro-batch through the gate)
GATES = {
    "phash": (["index"], _phash),
    "fp": (["index"], _fp),
    "seq_near": (["index"], _seq_near),
    "neardup": (["hash", "postings"], _neardup),
    "semdedup": (["index", "cents"], _semdedup),
}


def _plant_failed_append(path: str) -> None:
    """The layout a first partitioned append whose tasks failed leaves
    behind: the directory holds only the committer's ``_temporary/``,
    with a truncated part file in a task attempt directory."""
    attempt = os.path.join(
        path, "_temporary", "0", "_temporary", "attempt_0_m_000000_0"
    )
    os.makedirs(attempt)
    with open(os.path.join(attempt, "part-00000.parquet"), "wb") as f:
        f.write(b"PAR1")


def _rows(spark, path: str) -> list:
    return sorted(map(repr, spark.read.parquet(path).collect()))


@pytest.mark.parametrize("gate", sorted(GATES))
def test_fileless_index_reads_as_empty_history(
    spark, sf_dir, tmp_path, gate
):
    """Every gate, handed index directories a failed first append left
    behind, writes exactly what it writes with no index at all."""
    names, run = GATES[gate]
    state = {}
    for root, plant in (("fresh", False), ("planted", True)):
        paths = {n: str(tmp_path / root / n) for n in names}
        if plant:
            for path in paths.values():
                _plant_failed_append(path)
        out = str(tmp_path / root / "out")
        run(spark, sf_dir, out, paths)
        state[root] = [_rows(spark, out)] + [
            _rows(spark, paths[n]) for n in names
        ]
    assert state["fresh"][0]
    assert state["planted"] == state["fresh"]


#: compactor -> (the gate that builds its index, {index: (schema,
#: partition columns)}, compact(spark, index paths, destinations))
COMPACTORS = {
    "phash": (
        "phash",
        {"index": (phash_gate.INDEX_SCHEMA, ["band_idx", "pb"])},
        lambda spark, p, d: phash_gate.compact_phash_index(
            spark, p["index"], d[0]
        ),
    ),
    "fp": (
        "fp",
        {"index": (fp_gate._index_schema("video_fp"), ["pb"])},
        lambda spark, p, d: fp_gate.compact_fp_index(
            spark, p["index"], d[0], "video_fp"
        ),
    ),
    "seq_near": (
        "seq_near",
        {"index": (seq_near_gate.INDEX_SCHEMA, ["band_idx", "pb"])},
        lambda spark, p, d: seq_near_gate.compact_seq_near_index(
            spark, p["index"], d[0]
        ),
    ),
    "neardup": (
        "neardup",
        {
            "hash": (neardup_gate.HASH_INDEX_SCHEMA, ["pb"]),
            "postings": (neardup_gate.POSTINGS_SCHEMA, ["pb"]),
        },
        lambda spark, p, d: neardup_gate.compact_neardup_indexes(
            spark, p["hash"], p["postings"], d[0], d[1]
        ),
    ),
}


@pytest.mark.parametrize("compactor", sorted(COMPACTORS))
def test_compaction_never_replaces_an_existing_destination(
    spark, sf_dir, tmp_path, compactor
):
    """Compaction writes a NEW immutable directory: an existing
    destination is an error and is left untouched. Every compacted row
    keeps the MAX contributing batch id."""
    gate, layout, compact = COMPACTORS[compactor]
    names, run = GATES[gate]
    paths = {n: str(tmp_path / n) for n in names}
    run(spark, sf_dir, str(tmp_path / "out"), paths)
    # batch 0's rows again under a later batch id
    for n, (schema, partition_cols) in layout.items():
        again = spark.read.schema(schema).parquet(paths[n]).withColumn(
            BATCH_COL, F.lit(5).cast("long")
        )
        again.localCheckpoint().write.mode("append").partitionBy(
            *partition_cols
        ).parquet(paths[n])

    dests = [str(tmp_path / f"dest{i}") for i in range(len(layout))]
    compact(spark, paths, dests)
    for d, (schema, _) in zip(dests, layout.values()):
        ids = spark.read.schema(schema).parquet(d).select(BATCH_COL)
        assert {r[0] for r in ids.distinct().collect()} == {5}

    taken = [str(tmp_path / f"taken{i}") for i in range(len(layout))]
    for d in taken:
        os.makedirs(d)
        open(os.path.join(d, "keep"), "w").close()
    with pytest.raises(AnalysisException):
        compact(spark, paths, taken)
    for d in taken:
        assert os.listdir(d) == ["keep"]


def test_compaction_keeps_string_partition_values_verbatim(spark, tmp_path):
    """A text-gate hash index whose only prefix partition is all digits
    (``pb=00``) compacts to ``pb=00``, not to an inferred int ``pb=0``
    that no later pruned read of prefix ``"00"`` would match."""
    text = "doc number 5 alpha beta gamma"  # content hash starts "00"
    batch = spark.createDataFrame([(1, text)], "doc_id long, text string")
    hidx, pidx = str(tmp_path / "h"), str(tmp_path / "p")
    neardup_gate.apply_neardup_gate_batch(
        batch, 0, str(tmp_path / "out"), hidx, pidx
    )
    assert [d for d in os.listdir(hidx) if d.startswith("pb=")] == ["pb=00"]
    hc = str(tmp_path / "hc")
    neardup_gate.compact_neardup_indexes(
        spark, hidx, pidx, hc, str(tmp_path / "pc")
    )
    assert [d for d in os.listdir(hc) if d.startswith("pb=")] == ["pb=00"]
