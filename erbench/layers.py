"""The traced run: ``pgdedupe_spark.cli.main`` itself, with a span around
each layer call it makes.

``traced_main`` patches wrappers onto the names ``run_pipeline`` and
``cli.main`` look up at call time (the operator functions imported into
``pgdedupe_spark.pipeline``, ``ml.learning.learn_blocking_rules`` and
``ml.training.fit_classifier``), then runs the CLI. The program's own
control flow is untouched: a change to ``pipeline.py`` or ``cli.py`` shows
in the traced run as it does in the untraced one.

A span records its name, start, end, parent and run id, plus the Spark
status-store delta of the jobs and stages it started. Spans stay in memory
(:class:`Tracer`) and are written out once, at the end of the run.

Each wrapper persists and counts the layer's output at its boundary, so the
next layer reads it from the cache and a span holds its own layer's work.
``merge_exact`` first materializes its input under an ``apply`` span (the
result joins ``run_pipeline`` feeds it), then its output under
``exact_merge``. The sinks and the CLI's final count run under one last
``apply`` span, opened when ``run_pipeline`` returns. Layer statistics that
need extra jobs (block sizes, cluster sizes, relabels) are computed outside
the layer spans, so they count toward no layer.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
import uuid
from unittest import mock

from gen import quantile

LAYERS = [
    "collapse", "learning", "training", "blocking", "pairs",
    "scoring", "clustering", "exact_merge", "apply",
]
SPAN_COUNTERS = ["jobs", "tasks", "exec_run_s", "exec_cpu_s", "shuffle_mb", "spill_mb", "gc_s"]


class Tracer:
    def __init__(self, status):
        self.status = status
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Yields the span dict; the caller may add counts to it."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        since = self.status.mark()
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            rec["spark"] = self.status.delta(since)

    def self_seconds(self, rec: dict) -> float:
        children = [s for s in self.spans if s["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]) - sum(c["end"] - c["start"] for c in children)

    def layer_metrics(self) -> dict:
        """Per layer: self time, rows out (of its last span that counted
        rows) and the summed Spark counters of every span named after it."""
        out = {}
        for layer in LAYERS:
            spans = [s for s in self.spans if s["name"] == layer]
            counted = [s["rows_out"] for s in spans if "rows_out" in s]
            out[f"{layer}.self_s"] = sum(self.self_seconds(s) for s in spans)
            out[f"{layer}.rows_out"] = counted[-1] if counted else 0
            for c in SPAN_COUNTERS:
                out[f"{layer}.{c}"] = sum(s["spark"][c] for s in spans)
        return out

    def totals(self) -> dict:
        """The Spark counters of all layer spans together, with their
        summed duration (``busy_s``) and the cores they could use."""
        spans = [s for s in self.spans if s["name"] in LAYERS]
        out = {k: sum(s["spark"][k] for s in spans) for k in spans[0]["spark"]}
        out["busy_s"] = sum(s["end"] - s["start"] for s in spans)
        out["cores"] = self.status.cores
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _cached_count(df):
    df.persist()
    return df, df.count()


def traced_main(tracer: Tracer, argv: list[str]) -> tuple[int, dict]:
    """Run ``cli.main(argv)`` with every layer call traced; return its exit
    code and the layer-specific statistics."""
    from pyspark.sql import functions as F

    from pgdedupe_spark import cli, pipeline
    from pgdedupe_spark.ml import learning, training

    stats = {"exact_merge.relabels": 0}

    def wrap(module, name):
        """Decorator: patch ``module.name`` with the decorated function,
        which gets the original as its first argument."""

        def deco(fn):
            orig = getattr(module, name)
            patches.enter_context(mock.patch.object(module, name, functools.partial(fn, orig)))

        return deco

    with contextlib.ExitStack() as patches, tracer.span("pipeline"), contextlib.ExitStack() as sinks:

        @wrap(pipeline, "collapse_exact_duplicates")
        def _(orig, source, *args):
            n_source = source.count()
            with tracer.span("collapse") as s:
                eu, s["rows_out"] = _cached_count(orig(source, *args))
            stats["collapse.unique_ratio"] = s["rows_out"] / n_source
            return eu

        @wrap(learning, "learn_blocking_rules")
        def _(orig, *args, **kw):
            with tracer.span("learning") as s:
                rules = orig(*args, **kw)
                s["rows_out"] = len(rules)
            return rules

        @wrap(training, "fit_classifier")
        def _(orig, config, labeled):
            with tracer.span("training") as s:
                clf = orig(config, labeled)
                s["rows_out"] = sum(len(v) for v in labeled.values())
            return clf

        @wrap(pipeline, "blocking_chain")
        def _(orig, *args):
            with tracer.span("blocking") as s:
                *chain, smaller = orig(*args)
                smaller, s["rows_out"] = _cached_count(smaller)
            sizes = sorted(
                r["n"] for r in smaller.groupBy("block_id").agg(F.count("*").alias("n")).collect()
            )
            stats["blocking.block_p50"] = quantile(sizes, 0.50)
            stats["blocking.block_p99"] = quantile(sizes, 0.99)
            stats["blocking.block_max"] = sizes[-1] if sizes else 0
            stats["blocking.pair_bound"] = sum(n * (n - 1) // 2 for n in sizes)
            return (*chain, smaller)

        @wrap(pipeline, "candidate_pairs")
        def _(orig, *args, **kw):
            with tracer.span("pairs") as s:
                pairs, s["rows_out"] = _cached_count(orig(*args, **kw))
            audit = pairs._block_audit.get if pairs._block_audit is not None else {}
            bound = stats["blocking.pair_bound"]
            stats["pairs.candidates"] = s["rows_out"]
            stats["pairs.kolb_keep_ratio"] = s["rows_out"] / bound if bound else 0.0
            stats["pairs.cap_dropped"] = int(audit.get("entries_dropped") or 0)
            return pairs

        @wrap(pipeline, "assemble_features")
        def _(orig, *args):
            with tracer.span("scoring"):
                return orig(*args)

        @wrap(pipeline, "score_pairs")
        def _(orig, *args, **kw):
            with tracer.span("scoring") as s:
                scored, s["rows_out"] = _cached_count(orig(*args, **kw))
            candidates = stats["pairs.candidates"]
            stats["scoring.accept_ratio"] = s["rows_out"] / candidates if candidates else 0.0
            return scored

        @wrap(pipeline, "cluster_components")
        def _(orig, *args, **kw):
            with tracer.span("clustering") as s:
                entity_map, s["rows_out"] = _cached_count(orig(*args, **kw))
            size = entity_map.groupBy("canon_id").count().agg(
                F.count("*").alias("clusters"), F.max("count").alias("cluster_max")
            ).first()
            stats["clustering.clusters"] = size["clusters"]
            stats["clustering.cluster_max"] = size["cluster_max"] or 0
            return entity_map

        @wrap(pipeline, "merge_exact")
        def _(orig, mapping, entries, key, merge_cols, cluster_col="cluster"):
            with tracer.span("apply") as s:
                mapping, s["rows_out"] = _cached_count(mapping)
            with tracer.span("exact_merge") as s:
                merged, s["rows_out"] = _cached_count(orig(mapping, entries, key, merge_cols, cluster_col))
            stats["exact_merge.relabels"] += _changed(mapping, merged, key, cluster_col)
            return merged

        @wrap(pipeline, "run_pipeline")
        def _(orig, *args, **kw):
            result = orig(*args, **kw)
            # closed after cli.main returns: the sinks and the final count
            s = sinks.enter_context(tracer.span("apply"))
            result.deduped_source, s["rows_out"] = _cached_count(result.deduped_source)
            return result

        rc = cli.main(argv)
    return rc, stats


def _changed(before, after, key: str, col: str) -> int:
    """Rows whose ``col`` differs between two cached frames, compared on the
    driver: two collects of small cached frames cost less than a join."""
    b = before.select(key, col).toPandas()
    a = after.select(key, col).toPandas()
    both = b.merge(a, on=key, suffixes=("_b", "_a"))
    return int((both[f"{col}_b"] != both[f"{col}_a"]).sum())
