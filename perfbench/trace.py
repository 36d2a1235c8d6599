"""Spans recorded around the public functions of the engine's layers.

``install`` replaces those functions, in the modules that call them, with
wrappers that open a span, so the engine itself is unchanged. Spans carry
name, start, end, parent and run id; they stay in memory until ``dump``.

A wrapper around a lazy stage persists the stage's output and pushes it
through the ``noop`` sink inside its span. Each stage then pays for its own
work and reads its input from the cache, so a span's self time (its
duration less its child spans) is the time of that stage alone. Only the
traced jobs of a ``--trace 1`` run install the wrappers.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = "setup"
        self.counts: dict[str, dict[str, float]] = defaultdict(dict)

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, key: str, value: float) -> None:
        """A count recorded at a layer boundary for the current run."""
        self.counts[self.run_id][key] = value

    def self_times(self, run_id: str) -> dict[str, float]:
        """Per span name: summed duration less the time of child spans."""
        spans = [s for s in self.spans if s["run"] == run_id and s["end"] is not None]
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def durations(self, run_id: str) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["run"] == run_id and s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _materialize(df):
    df = df.persist()
    df.write.format("noop").mode("overwrite").save()
    return df


def install(tracer: Tracer) -> None:
    """Wrap the layer functions the pipeline workloads call; lazy stages
    are materialized inside their spans."""
    from vacancy_gpt_etl_pipeline_spark.operators import enrichment
    from vacancy_gpt_etl_pipeline_spark.plans import analysis, pipeline
    from vacancy_gpt_etl_pipeline_spark.sources import sinks

    def wrap(module, attr, make):
        setattr(module, attr, make(getattr(module, attr)))

    def spanned(name):
        def make(fn):
            def wrapper(*a, **kw):
                with tracer.span(name):
                    return fn(*a, **kw)
            return wrapper
        return make

    def latest_k(fn):
        def wrapper(paths, *a, **kw):
            picked = fn(paths, *a, **kw)
            tracer.count("csv_source.files_picked", len(picked))
            return picked
        return wrapper

    def read_csv(fn):
        def wrapper(*a, **kw):
            with tracer.span("csv_source.read"):
                out = _materialize(fn(*a, **kw))
            tracer.count("dedup.rows_in", out.count())
            return out
        return wrapper

    def dedup(fn):
        # the exact-row dropDuplicates that run_pipeline applies first is
        # lazy, so its cost lands in this span with the keyed dedup
        def wrapper(df, *a, **kw):
            with tracer.span("dedup"):
                out = _materialize(fn(df, *a, **kw))
            tracer.count("dedup.rows_out", out.count())
            return out
        return wrapper

    def enrich(fn):
        def wrapper(df, key_col, *a, **kw):
            name = "enrichment.title" if key_col == "title" else "enrichment.field"
            with tracer.span(name):
                return _materialize(fn(df, key_col, *a, **kw))
        return wrapper

    def fits_broadcast(fn):
        def wrapper(spark, n_keys, n_cols):
            fits = fn(spark, n_keys, n_cols)
            counts = tracer.counts[tracer.run_id]
            counts["enrichment.keys"] = counts.get("enrichment.keys", 0) + n_keys
            counts["enrichment.broadcast"] = counts.get("enrichment.broadcast", 0) + fits
            return fits
        return wrapper

    wrap(pipeline, "list_csv_files", spanned("csv_source.list"))
    wrap(pipeline, "latest_k_paths", latest_k)
    wrap(pipeline, "read_vacancies_csv", read_csv)
    wrap(pipeline, "dedup_keep_first", dedup)
    wrap(pipeline, "enrich_column", enrich)
    wrap(enrichment, "_mapping_fits_broadcast", fits_broadcast)
    wrap(pipeline, "run_pipeline", spanned("pipeline.run"))
    wrap(sinks, "write_normalized_csv", spanned("sinks.write"))
    wrap(analysis, "run_reference_queries", spanned("analysis.build"))
