"""Per-layer metrics of the traced run.

:data:`WRAPPED` lists the public engine functions that get a span; layer
names are the engine's module names. :func:`per_layer` folds the spans
and plan metrics of the timed rounds into the metrics ``BENCHMARK.json``
lists under ``per_layer``:

- ``<layer>.ms``: median over rounds of the wall time inside the call
  per round (plan construction for a lazy call; for a call that runs
  jobs, the jobs too); ``.self_ms`` excludes child spans;
- ``<layer>.action_ms``: the same for the action the benchmark runs on
  the frame the call returned;
- ``.jobs``/``.tasks`` and the other counts: per round, from the first
  timed round (counts repeat exactly for a seed; rounds of one run can
  use different inputs);
- ``spark.catalyst.*``: Catalyst phase times of the benchmark's actions;
- ``spark.persisted_rdds``: RDDs still registered as persisted when the
  first timed round ends (what earlier rounds left behind and the JVM's
  cleaner has not yet released counts too).

A layer the workload does not run reads 0.
"""

from __future__ import annotations

import importlib
import statistics

PKG = "parquet_on_fhir_spark"

#: (module, attribute) under the engine package; the span is named
#: ``<module>.<function>``, and ``Class.method`` traces a method
WRAPPED = [
    ("fhir.schema", "derive_schema"),
    ("fhir.validate", "check_or_raise"),
    ("fhir.annotations", "annotate"),
    ("fhir.encode", "write_table"),
    ("fhir.encode", "encode_mixed_ndjson"),
    ("fhir.terminology", "concept_edges"),
    ("fhir.terminology", "concept_closure"),
    ("fhir.terminology", "expand_valueset"),
    ("fhir.terminology", "validate_codes"),
    ("fhir.decode", "to_fhir_json"),
    ("fhir.table", "FhirTable.search"),
    ("fhir.store", "FhirStore.search"),
    ("fhir.views", "run_view"),
    ("operators.warc", "warc_records"),
    ("operators.encoding", "http_text"),
    ("operators.html", "html_extract"),
    ("operators.text", "quality_score"),
    ("operators.dedup", "exact_dedup"),
    ("operators.dedup", "near_dup_clusters"),
    ("operators.dedup", "minhash_lsh_pairs"),
    ("operators.graph", "connected_components"),
    ("operators.similarity", "brute_force_topk"),
]


#: per-layer metric → unit, in the order BENCHMARK.json lists them
METRICS = {
    "session.get_session.ms": "ms",
    "fhir.schema.derive_schema.ms": "ms",
    "fhir.schema.derive_schema.jobs": "count",
    "fhir.validate.check_or_raise.ms": "ms",
    "fhir.annotations.annotate.ms": "ms",
    "fhir.encode.write_table.ms": "ms",
    "fhir.encode.encode_mixed_ndjson.self_ms": "ms",
    "fhir.encode.encode_mixed_ndjson.jobs": "count",
    "fhir.encode.encode_mixed_ndjson.tasks": "count",
    "fhir.encode.files_written": "count",
    "fhir.encode.bytes_written": "bytes",
    "fhir.terminology.concept_edges.ms": "ms",
    "fhir.terminology.concept_closure.ms": "ms",
    "fhir.terminology.concept_closure.jobs": "count",
    "fhir.terminology.expand_valueset.ms": "ms",
    "fhir.terminology.validate_codes.ms": "ms",
    "fhir.terminology.validate_codes.action_ms": "ms",
    "fhir.decode.to_fhir_json.ms": "ms",
    "fhir.decode.to_fhir_json.action_ms": "ms",
    "fhir.decode.to_fhir_json.jobs": "count",
    "fhir.table.search.ms": "ms",
    "fhir.table.search.action_ms": "ms",
    "fhir.table.search.jobs": "count",
    "fhir.table.search.rows_scanned_per_match": "ratio",
    "fhir.table.search.files_read": "count",
    "fhir.store.search.ms": "ms",
    "fhir.store.search.action_ms": "ms",
    "fhir.store.search.jobs": "count",
    "fhir.store.search.shuffle_bytes": "bytes",
    "fhir.views.run_view.ms": "ms",
    "fhir.views.run_view.action_ms": "ms",
    "operators.warc.warc_records.ms": "ms",
    "operators.encoding.http_text.ms": "ms",
    "operators.html.html_extract.ms": "ms",
    "python.rows_sent": "count",
    "python.bytes_sent": "bytes",
    "operators.text.quality_score.ms": "ms",
    "operators.dedup.exact_dedup.ms": "ms",
    "operators.dedup.near_dup_clusters.ms": "ms",
    "operators.dedup.near_dup_clusters.action_ms": "ms",
    "operators.dedup.near_dup_clusters.jobs": "count",
    "operators.dedup.minhash_lsh_pairs.candidate_pairs": "count",
    "operators.graph.connected_components.ms": "ms",
    "operators.graph.connected_components.jobs": "count",
    "operators.similarity.brute_force_topk.ms": "ms",
    "operators.similarity.brute_force_topk.action_ms": "ms",
    "operators.similarity.brute_force_topk.pairs_scored": "count",
    "spark.catalyst.analysis_ms": "ms",
    "spark.catalyst.optimization_ms": "ms",
    "spark.catalyst.planning_ms": "ms",
    "spark.persisted_rdds": "count",
}


def wrap_all(tracer) -> None:
    for module, attr in WRAPPED:
        mod = importlib.import_module(f"{PKG}.{module}")
        owner = mod
        if "." in attr:
            cls, attr = attr.split(".")
            owner = getattr(mod, cls)
        tracer.wrap(owner, attr, f"{module}.{attr}")
    _capture_result(tracer, "operators.dedup", "minhash_lsh_pairs")


def _capture_result(tracer, module: str, attr: str) -> None:
    """Keep the frame the (already wrapped) call returns, so the round can
    count its rows afterwards."""
    mod = importlib.import_module(f"{PKG}.{module}")
    inner = getattr(mod, attr)

    def capture(*a, **kw):
        out = inner(*a, **kw)
        tracer.captured[attr] = out
        return out

    setattr(mod, attr, capture)


def candidate_pairs(spark, pairs_df) -> int:
    """Band-collision pairs behind a ``minhash_lsh_pairs`` result: the rows
    entering its final estimated-Jaccard filter."""
    plan = pairs_df._jdf.queryExecution().analyzed()
    if plan.nodeName() != "Filter":
        raise RuntimeError(f"unexpected minhash_lsh_pairs plan root {plan.nodeName()}")
    from pyspark.sql import DataFrame

    jds = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, plan.child())
    return DataFrame(jds, spark).count()


def per_layer(tracer, rounds: list[dict], session_ms: float) -> dict:
    """Fold spans and per-round counts into ``{metric: (value, unit)}``."""
    per_round = []
    for r in rounds:
        lo, hi = r["spans"]
        sub = tracer.layer_totals(lo, hi)
        values: dict[str, float] = {}
        for name, t in sub.items():
            layer = name.removesuffix(".action")
            suffix = "action_ms" if name.endswith(".action") else "ms"
            values[f"{layer}.{suffix}"] = t["ms"]
            if suffix == "ms":
                values[f"{layer}.self_ms"] = t["self_ms"]
                values[f"{layer}.jobs"] = t["jobs"]
                values[f"{layer}.tasks"] = t["tasks"]
        c = r["counts"]
        for phase in ("analysis", "optimization", "planning"):
            values[f"spark.catalyst.{phase}_ms"] = sum(
                v for k, v in c.items() if k.endswith(f".catalyst_{phase}_ms"))
        values["python.rows_sent"] = sum(v for k, v in c.items() if k.endswith(".python_rows_sent"))
        values["python.bytes_sent"] = sum(v for k, v in c.items() if k.endswith(".python_bytes_sent"))
        matched = c.get("fhir.table.search.matched", 0)
        values["fhir.table.search.rows_scanned_per_match"] = (
            c.get("fhir.table.search.rows_scanned", 0) / matched if matched else 0)
        values["fhir.table.search.files_read"] = c.get("fhir.table.search.files_read", 0)
        values["fhir.store.search.shuffle_bytes"] = c.get("fhir.store.search.shuffle_bytes", 0)
        values["operators.similarity.brute_force_topk.pairs_scored"] = c.get(
            "operators.similarity.brute_force_topk.nested_loop_rows", 0)
        for k in ("fhir.encode.files_written", "fhir.encode.bytes_written",
                  "operators.dedup.minhash_lsh_pairs.candidate_pairs"):
            values[k] = c.get(k, 0)
        values["spark.persisted_rdds"] = r["persisted"]
        per_round.append(values)

    out = {}
    for name, unit in METRICS.items():
        if name == "session.get_session.ms":
            value = session_ms
        elif unit == "ms":
            value = statistics.median(v.get(name, 0.0) for v in per_round)
        else:
            value = per_round[0].get(name, 0)
        out[name] = (value, unit)
    return out
