"""Seeded benchmark inputs, each with the ground truth its checks need.

Vacancy CSVs follow the pipeline's input contract (``schemas.VACANCIES_RAW``)
and are written as six timestamped files, of which ``run_pipeline`` picks the
newest four. The curation corpus is written by the ``gen_documents`` generator of
``bench_scale.py``; its planted exact and near duplicates are recovered here
by replaying the same random draws, and the replay is checked against the
written parquet.
"""

from __future__ import annotations

import csv
import os
import zlib
from dataclasses import dataclass

import numpy as np

N_FILES = 6
LATEST_K = 4

# Title vocabulary. The first five roles carry a keyword of the mock title
# rules below; the last two match no rule, so they fall back to the
# taxonomy default by design.
GRADES = ("Младший", "Старший", "Ведущий", "Главный", "Стажёр")
ROLES = (
    "аналитик данных",
    "bi-аналитик",
    "разработчик python",
    "devops инженер",
    "маркетолог",
    "менеджер продукта",
    "дизайнер интерфейсов",
    "тестировщик",
)
TITLE_RULES = (
    ("аналитик", "Аналитик данных"),
    ("разработчик", "Разработчик"),
    ("devops", "DevOps-инженер"),
    ("маркетолог", "Маркетолог"),
    ("менеджер продукта", "Менеджер продукта"),
)
DOMAINS = (
    "финансы и банки",
    "айти и телеком",
    "маркетинг и реклама",
    "ритейл",
    "производство",
)
FIELD_RULES = (
    ("финанс", {"category": "Финансы", "specialization": "Другое"}),
    ("айти", {"category": "IT", "specialization": "Другое"}),
    ("маркетинг", {"category": "Маркетинг", "specialization": "Digital"}),
)
LONG_TAIL = " в направлении развития цифровых продуктов и платформ"

#: the 31-word vocabulary of the sf0.1 ``documents`` fixture, which
#: ``bench_scale._fixture_vocab`` derives from the fixture file; kept here
#: so the corpus can be generated without the fixture
DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def stable_hash(text: str) -> int:
    """Process-independent hash (``hash()`` is salted per interpreter)."""
    return zlib.crc32(text.encode("utf-8"))


@dataclass
class VacancyTruth:
    input_dir: str
    picked_bytes: int
    rows_in: int
    unique_ids: int
    exact_dup_rows: int
    same_id_diff_payload_rows: int
    empty_fields: int
    long_titles: int
    distinct_titles: int
    distinct_fields: int


def _titles(n: int, rng: np.random.Generator) -> list[str]:
    long = rng.random(n) < 0.05
    out = []
    for i in range(n):
        t = f"{GRADES[i % len(GRADES)]} {ROLES[(i // len(GRADES)) % len(ROLES)]} {i}"
        out.append(t + LONG_TAIL if long[i] else t)
    return out


def _fields(n: int) -> list[str]:
    return [f"{DOMAINS[i % len(DOMAINS)]} {i}" for i in range(n)]


def _rows(
    rng: np.random.Generator,
    n: int,
    id_prefix: str,
    titles: list[str],
    fields: list[str],
) -> list[list[str]]:
    t_idx = rng.integers(0, len(titles), n)
    f_idx = rng.integers(0, len(fields), n)
    f_empty = rng.random(n) < 0.03
    cents = rng.integers(3_000_000, 40_000_000, n)
    s_empty = rng.random(n) < 0.02
    day = rng.integers(0, 120, n)
    base = np.datetime64("2026-01-01")
    return [
        [
            f"{id_prefix}{i}",
            titles[t_idx[i]],
            "" if f_empty[i] else fields[f_idx[i]],
            "" if s_empty[i] else f"{cents[i] // 100}.{cents[i] % 100:02d}",
            str(base + int(day[i])),
        ]
        for i in range(n)
    ]


def gen_vacancies(
    out_dir: str,
    seed: int,
    n_rows: int,
    n_titles: int,
    n_fields: int,
    repeat_frac: float = 0.10,
    exact_share: float = 0.6,
) -> VacancyTruth:
    """Write ``N_FILES`` vacancy CSVs; ``n_rows`` land in the newest
    ``LATEST_K`` files (the ones the pipeline reads). ``repeat_frac`` of
    those rows repeat an earlier id: ``exact_share`` of the repeats are
    exact copies of the earlier row, the rest carry a new payload."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    titles = _titles(n_titles, rng)
    fields = _fields(n_fields)
    n_repeat = int(n_rows * repeat_frac)
    rows = _rows(rng, n_rows - n_repeat, f"v{seed}-", titles, fields)
    src = rng.integers(0, len(rows), n_repeat)
    exact = rng.random(n_repeat) < exact_share
    fresh = _rows(rng, n_repeat, "x", titles, fields)
    for k in range(n_repeat):
        original = rows[src[k]]
        rows.append(list(original) if exact[k] else [original[0], *fresh[k][1:]])
    file_of = rng.integers(N_FILES - LATEST_K, N_FILES, len(rows))
    older = _rows(rng, n_rows // 4, f"o{seed}-", titles, fields)
    older_file = rng.integers(0, N_FILES - LATEST_K, len(older))

    paths = [
        os.path.join(out_dir, f"vacancies_202601{d + 1:02d}_060000.csv")
        for d in range(N_FILES)
    ]
    writers, handles = [], []
    for p in paths:
        fh = open(p, "w", newline="", encoding="utf-8")
        handles.append(fh)
        w = csv.writer(fh)
        w.writerow(["id", "title", "ai_field_of_activity", "salary_to", "created_at"])
        writers.append(w)
    for r, f in zip(rows, file_of):
        writers[f].writerow(r)
    for r, f in zip(older, older_file):
        writers[f].writerow(r)
    for fh in handles:
        fh.close()

    picked = paths[N_FILES - LATEST_K :]
    distinct_rows = {tuple(r) for r in rows}
    return VacancyTruth(
        input_dir=out_dir,
        picked_bytes=sum(os.path.getsize(p) for p in picked),
        rows_in=len(rows),
        unique_ids=len({r[0] for r in rows}),
        exact_dup_rows=len(rows) - len(distinct_rows),
        same_id_diff_payload_rows=len(distinct_rows) - len({r[0] for r in rows}),
        empty_fields=sum(1 for r in rows if not r[2]),
        long_titles=sum(1 for r in rows if len(r[1]) > 50),
        distinct_titles=len({r[1] for r in rows}),
        distinct_fields=len({r[2] for r in rows if r[2]}),
    )


def mock_title_label(key: str) -> str | None:
    """The mock title rule: first keyword match wins, else ``None``."""
    low = key.lower()
    return next((label for kw, label in TITLE_RULES if kw in low), None)


def mock_field_labels(key: str) -> dict[str, str] | None:
    low = key.lower()
    return next((labels for kw, labels in FIELD_RULES if kw in low), None)


# -------------------------------------------------------------- corpus


@dataclass
class CorpusTruth:
    sf_dir: str
    n_docs: int
    dup_pairs: list[tuple[int, int]]  # (source doc, planted copy)


def _replay_documents(n_docs: int, seed: int) -> tuple[list[str], list]:
    """The draws of ``bench_scale.gen_documents``, recording each planted
    copy as it is made."""
    import bench_scale as bs

    rng = np.random.default_rng(seed)
    vocab = np.array(DOC_VOCAB)
    texts: list[str] = []
    pairs: list[tuple[int, int]] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < bs.EXACT_DUP_FRAC:
            s = int(rng.integers(0, i))
            texts.append(texts[s])
            pairs.append((s, i))
        elif i > 10 and r < bs.EXACT_DUP_FRAC + bs.NEAR_DUP_FRAC:
            s = int(rng.integers(0, i))
            words = texts[s].split()
            n_edit = max(1, int(len(words) * bs.NEAR_DUP_EDIT))
            for j in rng.integers(0, len(words), n_edit):
                words[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words))
            pairs.append((s, i))
        else:
            n_words = rng.integers(10, 101)
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n_words)]))
    return texts, pairs


def gen_corpus(out_dir: str, seed: int, n_docs: int) -> CorpusTruth:
    import bench_scale as bs
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    docs = os.path.join(out_dir, "documents.parquet")
    bs._fixture_vocab = lambda: list(DOC_VOCAB)
    bs.gen_documents(n_docs, seed=seed, path=docs)
    texts, dup_pairs = _replay_documents(n_docs, seed)
    written = pq.read_table(docs, columns=["text"]).column("text").to_pylist()
    if written != texts:
        raise RuntimeError("document replay diverged from bench_scale.gen_documents")
    return CorpusTruth(out_dir, n_docs, dup_pairs)
