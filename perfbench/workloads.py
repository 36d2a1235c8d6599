"""The three workloads: one batch job at a time, each checked after it runs.

``vacancy_daily``    the reference's daily job: newest CSVs -> dedup -> keyword
                     enrichment -> CSV sink -> the two reference queries.
``vacancy_backfill`` the same job with many distinct keys, enriched through
                     ``HttpLLMEnricher`` against the localhost stub LLM.
``corpus_curation``  the MinHash-LSH near-duplicate registry entry over a
                     seeded parquet corpus.

A workload's ``iterate`` runs one timed job and returns its timings; ``check``
verifies that job's output against ground truth without timing it.
"""

from __future__ import annotations

import hashlib
import os
import time
from contextlib import contextmanager

import duckdb

from perfbench import datagen

UNDEFINED = "Не определена"
UNSPECIFIED = "Не указано"


def _vhash(cols: list[str], rows: list[tuple]) -> str:
    """Order-free value hash with columns sorted by name (the registry's
    oracle convention)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    payload = repr(sorted(tuple(repr(r[i]) for i in order) for r in rows))
    return hashlib.md5(payload.encode()).hexdigest()


def _dir_stats(path: str) -> tuple[int, int]:
    files = [f for f in os.listdir(path) if f.endswith(".csv")]
    return sum(os.path.getsize(os.path.join(path, f)) for f in files), len(files)


@contextmanager
def _no_span(name):
    yield None


class CheckFailed(AssertionError):
    pass


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


# ------------------------------------------------------------ pipelines


class VacancyWorkload:
    """Shared job and check of the two pipeline workloads."""

    #: jobs before the warm-up may stop: the cold job, then one to compare
    min_warm = 2

    n_rows: int
    n_titles: int
    n_fields: int

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.n_iter = 0
        self.stub = None

    def generate(self) -> None:
        self.truth = datagen.gen_vacancies(
            os.path.join(self.work, "input"),
            self.seed,
            self.n_rows,
            self.n_titles,
            self.n_fields,
        )

    @property
    def input_units(self) -> int:
        return self.truth.rows_in

    def start(self, spark) -> None:
        self.spark = spark

    def enrichers(self):
        raise NotImplementedError

    def stop(self) -> None:
        if self.stub is not None:
            self.stub.close()

    def iterate(self, store=None, tracer=None) -> dict:
        """One job: run_pipeline -> write_normalized_csv ->
        run_reference_queries over the written output."""
        from pyspark.sql import types as T
        from vacancy_gpt_etl_pipeline_spark.plans import analysis, pipeline
        from vacancy_gpt_etl_pipeline_spark.schemas import NORMALIZED_VACANCIES
        from vacancy_gpt_etl_pipeline_spark.sources import csv_source, sinks

        span = tracer.span if tracer else _no_span
        self.n_iter += 1
        out = os.path.join(self.work, "out", f"job{self.n_iter}")
        title_e, field_e = self.enrichers()
        if self.stub is not None:
            self.stub.reset()
        marks = [store.mark()] if store else []
        with span("job"):
            t0 = time.perf_counter()
            result = pipeline.run_pipeline(
                self.spark, self.truth.input_dir, title_e, field_e, latest_k=datagen.LATEST_K
            )
            sinks.write_normalized_csv(result, out)
            t_sink = time.perf_counter()
        if store:
            marks.append(store.mark())
        with span("job"):
            t_sql = time.perf_counter()
            schema = T.StructType([NORMALIZED_VACANCIES[c] for c in result.columns])
            normalized = csv_source.read_vacancies_csv(
                self.spark, out, schema=schema, with_provenance=False
            )
            q1, q2 = analysis.run_reference_queries(self.spark, normalized)
            with span("analysis.q1"):
                r1 = [tuple(r) for r in q1.collect()]
            with span("analysis.q2"):
                r2 = [tuple(r) for r in q2.collect()]
            t_end = time.perf_counter()
        if store:
            marks.append(store.mark())
        self.spark.catalog.clearCache()
        self.last = dict(out=out, q1=r1, q2=r2, columns=result.columns)
        timings = {"job_s": (t_sink - t0) + (t_end - t_sql), "sql_s": t_end - t_sql}
        if store:
            timings["spark_pipeline"] = store.between(marks[0], marks[1])
            timings["spark_sql"] = store.between(marks[1], marks[2])
            timings["spark_total"] = store.between(marks[0], marks[2])
        if self.stub is not None:
            timings.update(self.stub.stats())
        return timings

    # -- check

    def expected_title(self, key: str) -> tuple[str, str]:
        """(label, outcome) with outcome resolved / intended / exhausted."""
        raise NotImplementedError

    def expected_field(self, key: str) -> tuple[tuple[str, str], str]:
        raise NotImplementedError

    def check(self) -> dict:
        """Row count, every label, and both reference queries against
        DuckDB running the same SQL over the same output."""
        from vacancy_gpt_etl_pipeline_spark.plans.analysis import (
            REF_Q1_TOP_TITLES,
            REF_Q2_MARKET_SHARE,
        )

        out = self.last["out"]
        columns = ", ".join(f"'{c}': 'VARCHAR'" for c in self.last["columns"])
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute(
            f"""CREATE TABLE normalized_vacancies AS
            SELECT * REPLACE (CAST(salary_to AS DECIMAL(12,2)) AS salary_to)
            FROM read_csv('{out}/*.csv', header=true, auto_detect=false,
                          delim=',', quote='"', escape='"',
                          columns={{{columns}}})"""
        )
        n, n_ids = con.execute(
            "SELECT count(*), count(DISTINCT id) FROM normalized_vacancies"
        ).fetchone()
        _require(n == self.truth.unique_ids, f"deduped rows {n} != {self.truth.unique_ids}")
        _require(n_ids == n, "duplicate ids in output")

        outcomes = {"resolved": 0, "intended": 0, "exhausted": 0}
        titles = con.execute(
            "SELECT trim(title), list(DISTINCT normalized_title) FROM normalized_vacancies "
            "WHERE title IS NOT NULL AND trim(title) <> '' GROUP BY 1"
        ).fetchall()
        for key, labels in titles:
            want, outcome = self.expected_title(key)
            _require(labels == [want], f"title {key!r}: {labels} != {want!r}")
            outcomes[outcome] += 1
        fields = con.execute(
            "SELECT trim(ai_field_of_activity), list(DISTINCT [category, specialization]) "
            "FROM normalized_vacancies GROUP BY 1"
        ).fetchall()
        n_field_keys = 0
        for key, labels in fields:
            if key is None or key == "":
                _require(labels == [[UNSPECIFIED, UNSPECIFIED]], f"empty field: {labels}")
                continue
            want, outcome = self.expected_field(key)
            _require(labels == [list(want)], f"field {key!r}: {labels} != {want}")
            outcomes[outcome] += 1
            n_field_keys += 1

        for sql, spark_rows, tol in (
            (REF_Q1_TOP_TITLES, self.last["q1"], (0, 1.0)),
            (REF_Q2_MARKET_SHARE, self.last["q2"], (0, 1.0, 0.1)),
        ):
            duck = {r[0]: r[1:] for r in con.execute(sql).fetchall()}
            mine = {r[0]: r[1:] for r in spark_rows}
            _require(duck.keys() == mine.keys(), f"query groups differ: {sorted(mine)} vs {sorted(duck)}")
            for k, vals in mine.items():
                for a, b, t in zip(vals, duck[k], tol):
                    # Spark rounds exact decimals half-up, DuckDB rounds
                    # doubles: allow one unit of the rounded place
                    _require(
                        (a is None and b is None) or abs(float(a) - float(b)) <= t + 1e-9,
                        f"query value {k!r}: {vals} vs {duck[k]}",
                    )
            counts = [r[1] for r in spark_rows]
            _require(counts == sorted(counts, reverse=True), "query order")
        con.close()
        bytes_written, files_written = _dir_stats(out)
        n_keys = len(titles) + n_field_keys
        # the stub fails both attempts of ~2% of batches; far more fallbacks
        # means the labels did not come from the enricher at all
        _require(outcomes["exhausted"] <= 0.05 * n_keys, f"{outcomes['exhausted']} of {n_keys} keys fell back")
        return {
            "keys": n_keys,
            "keys_resolved": outcomes["resolved"],
            "keys_intended_fallback": outcomes["intended"],
            "keys_exhausted": outcomes["exhausted"],
            "rows_out": n,
            "bytes_written": bytes_written,
            "files_written": files_written,
        }

    def dedup_recall_pct(self, rows_out: int) -> float:
        planted = self.truth.rows_in - self.truth.unique_ids
        return 100.0 * (self.truth.rows_in - rows_out) / planted


class VacancyDaily(VacancyWorkload):
    n_rows = 40_000
    n_titles = 400
    n_fields = 120

    def enrichers(self):
        from vacancy_gpt_etl_pipeline_spark.operators.enrichment import (
            KeywordRule,
            MockKeywordEnricher,
        )

        title = MockKeywordEnricher(
            rules=[KeywordRule(kw, {"normalized_title": lab}) for kw, lab in datagen.TITLE_RULES],
            outputs=("normalized_title",),
        )
        field = MockKeywordEnricher(
            rules=[KeywordRule(kw, labels) for kw, labels in datagen.FIELD_RULES],
            outputs=("category", "specialization"),
            defaults={"category": UNDEFINED, "specialization": UNDEFINED},
        )
        return title, field

    def expected_title(self, key):
        label = datagen.mock_title_label(key)
        return (label, "resolved") if label else (UNDEFINED, "intended")

    def expected_field(self, key):
        labels = datagen.mock_field_labels(key)
        if labels:
            return (labels["category"], labels["specialization"]), "resolved"
        return (UNDEFINED, UNDEFINED), "intended"


class VacancyBackfill(VacancyWorkload):
    n_rows = 16_000
    n_titles = 3_200
    n_fields = 480
    service_s = 0.010

    def start(self, spark) -> None:
        from perfbench.llm_stub import StubLLM

        super().start(spark)
        self.stub = StubLLM(self.service_s)

    def enrichers(self):
        return self.stub.enrichers()

    def _delivered(self, kind: str, key: str):
        return self.stub.delivered.get((kind, key))

    def expected_title(self, key):
        labels = self._delivered("titles", key)
        if labels:
            return labels["normalized_title"], "resolved"
        return UNDEFINED, "exhausted"

    def expected_field(self, key):
        labels = self._delivered("fields", key)
        if labels:
            return (labels["category"], labels["specialization"]), "resolved"
        return (UNDEFINED, UNDEFINED), "exhausted"


# --------------------------------------------------------------- corpus

#: the timed registry entries. curation_e2e, semdedup and ann_ivf_int8 are
#: left out: with them a run's cold pass alone takes 25-45 s on 4 cores,
#: which does not fit the benchmark's time budget with room to settle
CORPUS_ENTRIES = ("dedup_minhash_lsh",)
#: size of the corpus on which the slow MinHash oracle runs
SMALL_DOCS = 300


class CorpusCuration:
    n_docs = 5_000
    #: the JIT keeps compiling the MinHash stages for about five passes
    #: (process CPU time per pass falls 45 -> 16 -> 13 -> 11 -> 9 -> 7 s and
    #: then holds on 4 cores); job times measured earlier drift with it
    min_warm = 5

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.expected: dict[str, str] | None = None

    def generate(self) -> None:
        self.truth = datagen.gen_corpus(os.path.join(self.work, "corpus"), self.seed, self.n_docs)

    @property
    def input_units(self) -> int:
        return self.n_docs

    def start(self, spark) -> None:
        self.spark = spark

    def stop(self) -> None:
        pass

    def iterate(self, store=None, tracer=None) -> dict:
        """Every entry once: build its plan, then collect its rows."""
        from vacancy_gpt_etl_pipeline_spark.queries import REGISTRY

        span = tracer.span if tracer else _no_span
        timings: dict = {}
        self.last = {}
        job_s = 0.0
        first = store.mark() if store else None
        with span("job"):
            for name in CORPUS_ENTRIES:
                mark = store.mark() if store else None
                with span(f"queries.{name}.build"):
                    t0 = time.perf_counter()
                    df = REGISTRY[name].spark(self.spark, self.truth.sf_dir)
                    t1 = time.perf_counter()
                with span(f"queries.{name}.exec"):
                    rows = [tuple(r) for r in df.collect()]
                    t2 = time.perf_counter()
                if store:
                    timings[f"{name}.jobs"] = store.between(mark, store.mark())["jobs"]
                self.spark.catalog.clearCache()
                job_s += t2 - t0
                timings[f"{name}.build_s"] = t1 - t0
                timings[f"{name}.exec_s"] = t2 - t1
                self.last[name] = (df.columns, rows)
        if store:
            timings["spark_total"] = store.between(first, store.mark())
        return {"job_s": job_s, **timings}

    def _first_check(self) -> None:
        """Once per invocation: the DuckDB oracle of dedup_minhash_lsh takes
        minutes at full size, so the entry is compared with it on a small
        corpus of the same seed; the full-size output must then repeat
        exactly in every job."""
        from vacancy_gpt_etl_pipeline_spark.queries import REGISTRY

        small = datagen.gen_corpus(os.path.join(self.work, "check_corpus"), self.seed, SMALL_DOCS)
        self.expected = {}
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{small.sf_dir}/documents.parquet'")
        for name in CORPUS_ENTRIES:
            res = con.execute(REGISTRY[name].oracle)
            oracle = _vhash([d[0] for d in res.description], res.fetchall())
            df = REGISTRY[name].spark(self.spark, small.sf_dir)
            got = _vhash(df.columns, [tuple(r) for r in df.collect()])
            self.spark.catalog.clearCache()
            _require(got == oracle, f"{name} != oracle on the check corpus")
            self.expected[name] = _vhash(*self.last[name])
        con.close()

    def check(self) -> dict:
        if self.expected is None:
            self._first_check()
        for name in CORPUS_ENTRIES:
            _require(_vhash(*self.last[name]) == self.expected[name], f"{name} output changed")
        # a planted copy counts as removed when MinHash pairs it with any
        # lower id (the keep-lowest-id survivor rule)
        cols, rows = self.last["dedup_minhash_lsh"]
        a, b = cols.index("id_a"), cols.index("id_b")
        removed = {max(r[a], r[b]) for r in rows}
        found = sum(1 for _, dup in self.truth.dup_pairs if dup in removed)
        return {"dedup_recall_pct": 100.0 * found / len(self.truth.dup_pairs)}


WORKLOADS = {
    "vacancy_daily": VacancyDaily,
    "vacancy_backfill": VacancyBackfill,
    "corpus_curation": CorpusCuration,
}
