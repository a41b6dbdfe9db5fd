"""The workloads. Each builds its inputs in :meth:`setup` and returns
one round of operations from :meth:`round`; an operation is a timed
callable plus an untimed check of what it returned.

- ``fhir``: each round sends one mixed-resource NDJSON batch through
  encode, validate-code and export (:class:`FhirIngest`, the format's
  write path), then a closed-loop client sends a seeded mix of searches
  and ViewDefinitions against a store written once in set-up
  (:class:`FhirQuery`, the read path over the layout the write path
  produces);
- ``corpus_curate``: a seeded crawl through WARC parsing, charset
  decoding, HTML extraction, a quality gate, exact and near dedup, plus a
  batch of top-k queries (the LLM-data path; no FHIR code runs).
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import gen_crawl
import gen_fhir
import oracles


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], None]
    #: work items the operation completes, for rates
    items: Callable[[Any], int]


@dataclass
class Ctx:
    spark: Any
    tmp: str
    seed: int
    tracer: Any = None
    #: per-round figures a workload records for the traced run
    round_counts: dict = field(default_factory=dict)

    def action(self, layer: str, df, fn):
        """Run ``fn(df)`` (an action on a frame that ``layer`` returned)
        inside a ``<layer>.action`` span when tracing, and fold the SQL
        metrics of the executed plan into the round's counts."""
        if self.tracer is None:
            return fn(df)
        with self.tracer.span(f"{layer}.action"):
            out = fn(df)
        counts = {**self.tracer.plan_metrics(df), "matched": len(out)}
        for k, v in counts.items():
            key = f"{layer}.{k}"
            self.round_counts[key] = self.round_counts.get(key, 0) + v
        return out


def _parquet_bytes(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _dirs, names in os.walk(root):
        if "_staging" in d:
            continue
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class FhirIngest:
    kinds = ("encode", "validate", "export")
    batches = 3
    patients, observations = 60, 240

    def setup(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.data, self.paths, self.json_bytes = [], [], []
        os.makedirs(f"{ctx.tmp}/ingest")
        for b in range(self.batches):
            batch = gen_fhir.make_batch(ctx.seed, b, self.patients, self.observations)
            path = f"{ctx.tmp}/ingest/batch{b}.ndjson"
            with open(path, "w", encoding="utf-8") as f:
                f.write("\n".join(batch["lines"]) + "\n")
            self.data.append(batch)
            self.paths.append(path)
            self.json_bytes.append(os.path.getsize(path))
        self.n = 0
        self.store_bytes = 0
        self.json_total = 0

    def round(self) -> list[Op]:
        from pyspark.sql import functions as F

        from parquet_on_fhir_spark.fhir import decode, encode, terminology

        spark, ctx = self.ctx.spark, self.ctx
        b = self.n % self.batches
        batch, path = self.data[b], self.paths[b]
        root = f"{ctx.tmp}/store{self.n}"
        self.n += 1
        want_counts = {}
        for (rt, _i) in batch["docs"]:
            want_counts[rt] = want_counts.get(rt, 0) + 1

        def do_encode():
            return encode.encode_mixed_ndjson(spark, path, root)

        def check_encode(counts):
            oracles.expect(counts == want_counts, f"encode counts {counts} != {want_counts}")
            files, size = _parquet_bytes(root)
            self.store_bytes += size
            self.json_total += self.json_bytes[b]
            ctx.round_counts["fhir.encode.files_written"] = files
            ctx.round_counts["fhir.encode.bytes_written"] = size

        def do_validate():
            cs = spark.read.parquet(f"{root}/CodeSystem")
            vs = spark.read.parquet(f"{root}/ValueSet")
            obs = spark.read.parquet(f"{root}/Observation").select(
                "id",
                F.col("code.coding")[0]["system"].alias("system"),
                F.col("code.coding")[0]["code"].alias("code"),
            )
            closure = terminology.concept_closure(terminology.concept_edges(cs))
            df = terminology.validate_codes(
                obs, vs, "system", "code", batch["vs_url"], cs, closure
            ).select("id", "system", "code", "in_valueset")
            return ctx.action("fhir.terminology.validate_codes", df,
                              lambda d: [tuple(r) for r in d.collect()])

        def do_export():
            out = {}
            for rt in sorted(want_counts):
                df = decode.to_fhir_json(spark.read.parquet(f"{root}/{rt}"),
                                         resource_type=rt)
                out[rt] = ctx.action("fhir.decode.to_fhir_json", df,
                                     lambda d: [r[0] for r in d.collect()])
            return out

        def check_export(out):
            for rt, lines in out.items():
                oracles.check_export(rt, lines, batch["docs"])
            shutil.rmtree(root)

        return [
            Op("encode", do_encode, check_encode, lambda c: sum(c.values())),
            Op("validate", do_validate,
               lambda rows: oracles.check_validate(rows, batch["obs_codes"], batch["members"]),
               lambda rows: len(rows)),
            Op("export", do_export, check_export,
               lambda out: sum(len(v) for v in out.values())),
        ]

    def named(self, stats) -> dict:
        return {
            "encode_resources_per_s": (stats.rate("encode"), "1/s"),
            "validate_codes_per_s": (stats.rate("validate"), "1/s"),
            "export_resources_per_s": (stats.rate("export"), "1/s"),
            "store_bytes_per_json_byte": (self.store_bytes / max(self.json_total, 1), "B/B"),
        }


class FhirQuery:
    kinds = ("search", "view")
    #: the store's batches start after the ingest batches' numbers
    first_batch, batches, files = 100, 8, 4
    patients, observations = 60, 240
    variants = 3

    VIEWS = {
        "patient_names": {
            "resource": "Patient",
            "select": [
                {"column": [{"name": "id", "path": "getResourceKey()"},
                            {"name": "birth_start", "path": "birthDate.lowBoundary()"}]},
                {"forEach": "name",
                 "column": [{"name": "family", "path": "family"},
                            {"name": "given", "path": "given.first()"}]},
            ],
        },
        "observation_codes": {
            "resource": "Observation",
            "select": [
                {"column": [{"name": "id", "path": "getResourceKey()"},
                            {"name": "patient", "path": "subject.getReferenceKey(Patient)"},
                            {"name": "qty", "path": "value.ofType(Quantity).value"},
                            {"name": "eff_start", "path": "effectiveDateTime.lowBoundary()"}]},
                {"forEach": "code.coding",
                 "column": [{"name": "system", "path": "system"},
                            {"name": "code", "path": "code"}]},
            ],
        },
    }

    def setup(self, ctx: Ctx) -> None:
        from parquet_on_fhir_spark.fhir.encode import encode_mixed_ndjson
        from parquet_on_fhir_spark.fhir.store import FhirStore

        self.ctx = ctx
        os.makedirs(f"{ctx.tmp}/query")
        docs = {"Patient": [], "Observation": []}
        parts = [[] for _ in range(self.files)]
        self.cs_codes = []
        for b in range(self.first_batch, self.first_batch + self.batches):
            batch = gen_fhir.make_batch(ctx.seed, b, self.patients, self.observations)
            for line, ((rt, _i), doc) in zip(batch["lines"], batch["docs"].items()):
                if rt in docs:
                    docs[rt].append(doc)
                    parts[b % self.files].append(line)
            self.cs_codes += [(s, c) for _i, s, c in batch["obs_codes"]]
        for i, lines in enumerate(parts):
            with open(f"{ctx.tmp}/query/part{i}.ndjson", "w", encoding="utf-8") as f:
                f.write("\n".join(lines) + "\n")
        encode_mixed_ndjson(ctx.spark, f"{ctx.tmp}/query", f"{ctx.tmp}/query_store")
        self.store = FhirStore.read(ctx.spark, f"{ctx.tmp}/query_store",
                                    ["Patient", "Observation"])
        self.docs = docs
        self.view_want = {
            "patient_names": oracles.flatten_patient_names(docs["Patient"]),
            "observation_codes": oracles.flatten_observation_codes(docs["Observation"]),
        }
        rng = random.Random(f"query:{ctx.seed}")
        self.mixes = [self._mix(rng) for _ in range(self.variants)]
        self.n = 0

    def _mix(self, rng: random.Random) -> list[tuple[str, str, str]]:
        """One request mix: (target, resource type, parameters); target is
        ``table``, ``store`` or ``view``."""
        pats = self.docs["Patient"]
        p = rng.choice(pats)
        fam = rng.choice(gen_fhir.FAMILIES)[:3].lower()
        sys_, code = rng.choice([sc for sc in self.cs_codes if sc[0] != gen_fhir.FOREIGN_SYSTEM])
        ym = lambda lo, hi: f"{rng.randint(lo, hi)}-{rng.randint(1, 12):02d}"  # noqa: E731
        return [
            ("table", "Patient", f"birthDate=gt{ym(1950, 1995)}"),
            ("table", "Patient", f"birthDate=lt{rng.randint(1950, 1995)}"),
            ("table", "Patient", f"birthDate={rng.randint(1950, 1995)}"),
            ("table", "Patient", f"birthDate=eq{ym(1950, 1995)}"),
            ("table", "Observation", f"effectiveDateTime=gt{ym(2019, 2022)}"),
            ("table", "Observation",
             f"effectiveDateTime=lt{ym(2019, 2022)}-{rng.randint(1, 28):02d}"),
            ("table", "Patient",
             f"identifier={p['identifier'][0]['system']}|{p['identifier'][0]['value']}"),
            ("table", "Observation", f"code={sys_}|{code}"),
            ("table", "Observation", f"valueQuantity=gt{rng.randint(0, 400)}.000005|g"),
            ("table", "Observation", f"valueQuantity=lt{rng.randint(0, 90000)}.005|mg"),
            ("table", "Patient", f"name={fam}"),
            ("table", "Patient", "active:missing=true"),
            ("table", "Patient",
             f"gender={rng.choice(gen_fhir.GENDERS)}&_sort=birthDate&_count=5"),
            ("store", "Observation", f"subject:Patient.name={fam}"),
            ("store", "Observation",
             f"code={sys_}|{code}&_include=Observation:subject:Patient"),
            ("store", "Patient",
             f"gender={rng.choice(gen_fhir.GENDERS)}&_revinclude=Observation:subject"),
            ("store", "Patient", f"_has:Observation:subject:code={sys_}|{code}"),
            ("view", "Patient", "patient_names"),
            ("view", "Observation", "observation_codes"),
        ]

    def round(self) -> list[Op]:
        from parquet_on_fhir_spark.fhir.views import run_view

        ctx, store = self.ctx, self.store
        mix = self.mixes[self.n % self.variants]
        self.n += 1
        ops = []
        for target, rt, params in mix:
            if target == "table":
                def run(rt=rt, params=params):
                    t = store[rt].search(params)
                    cols = ["id"] + (["birthDate"] if "_sort" in params else [])
                    return ctx.action("fhir.table.search", t.df.select(*cols),
                                      lambda d: [tuple(r) for r in d.collect()])

                def check(rows, rt=rt, params=params):
                    oracles.check_table_search(self.docs[rt], params, rows)
                ops.append(Op("search", run, check, lambda _r: 1))
            elif target == "store":
                def run(rt=rt, params=params):
                    frames = store.search(rt, params)
                    return {t: ctx.action("fhir.store.search", df.select("id"),
                                          lambda d: [r[0] for r in d.collect()])
                            for t, df in frames.items()}

                def check(got, rt=rt, params=params):
                    oracles.check_store_search(self.docs, rt, params, got)
                ops.append(Op("search", run, check, lambda _r: 1))
            else:
                view = self.VIEWS[params]

                def run(rt=rt, view=view):
                    df = run_view(store[rt].df, view)
                    return ctx.action("fhir.views.run_view", df,
                                      lambda d: [tuple(r) for r in d.collect()])

                def check(rows, name=params):
                    oracles.check_view(name, rows, self.view_want[name])
                ops.append(Op("view", run, check, len))
        return ops

    def named(self, stats) -> dict:
        out = {
            "search_p50_ms": (stats.quantile("search", 0.5) * 1000, "ms"),
            "searches_per_s": (stats.rate("search"), "1/s"),
            "view_rows_per_s": (stats.rate("view"), "1/s"),
        }
        # p90 only with at least ten samples beyond it
        if len(stats.times["search"]) >= 100:
            out["search_p90_ms"] = (stats.quantile("search", 0.9) * 1000, "ms")
        return out


class Fhir:
    """The FHIR write path and read path, one after the other in every
    round."""

    name = "fhir"
    kinds = FhirIngest.kinds + FhirQuery.kinds
    warm_rounds = 0

    def setup(self, ctx: Ctx) -> None:
        self.parts = (FhirIngest(), FhirQuery())
        for p in self.parts:
            p.setup(ctx)

    def round(self) -> list[Op]:
        return [op for p in self.parts for op in p.round()]

    def named(self, stats) -> dict:
        return {k: v for p in self.parts for k, v in p.named(stats).items()}

    def items_per_s(self, stats) -> float:
        """Batch resources per second of write-path time (encode,
        validate-code and export together)."""
        ingest = self.parts[0]
        per_batch = ingest.patients + ingest.observations + 2
        return per_batch * len(stats.times["encode"]) / stats.seconds(FhirIngest.kinds)


class CorpusCurate:
    name = "corpus_curate"
    kinds = ("curate", "topk")
    warm_rounds = 1
    archives, pages_per_archive = 4, 50
    near_groups, near_size, exact_groups, exact_size, low_quality = 8, 4, 6, 3, 6
    corpus, queries, dim, k = 2000, 16, 32, 5
    #: top-k batches per round, each of ``queries`` distinct queries
    topk_batches = 3
    quality_min = 0.6

    def setup(self, ctx: Ctx) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.ctx = ctx
        self.crawl = gen_crawl.make_crawl(
            ctx.seed, self.archives, self.pages_per_archive, self.near_groups,
            self.near_size, self.exact_groups, self.exact_size, self.low_quality)
        os.makedirs(f"{ctx.tmp}/warc")
        for i, data in enumerate(self.crawl["archives"]):
            ext = ".warc.gz" if data[:2] == b"\x1f\x8b" else ".warc"
            with open(f"{ctx.tmp}/warc/arc-{i:03d}{ext}", "wb") as f:
                f.write(data)
        n_q = self.queries * self.topk_batches
        emb = gen_crawl.make_embeddings(ctx.seed, self.corpus, n_q, self.dim, self.k)
        q_ids = np.arange(n_q, dtype="int64") + 10**6

        def write(name, id_col, ids, vecs):
            pq.write_table(pa.table({
                id_col: ids,
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float64())),
            }), f"{ctx.tmp}/{name}.parquet")

        write("corpus", "vec_id", np.arange(self.corpus, dtype="int64"), emb["corpus"])
        self.topk_want = []
        for b in range(self.topk_batches):
            part = slice(b * self.queries, (b + 1) * self.queries)
            write(f"queries{b}", "q_id", q_ids[part], emb["queries"][part])
            self.topk_want.append(
                oracles.topk(emb["corpus"], emb["queries"][part], q_ids[part], self.k))
        self.n_pages = len(self.crawl["pages"])

    def round(self) -> list[Op]:
        from pyspark.sql import functions as F

        from parquet_on_fhir_spark.operators import (
            dedup, encoding, html, similarity, text, warc,
        )

        spark, ctx, tmp = self.ctx.spark, self.ctx, self.ctx.tmp

        def curate():
            raw = spark.read.format("binaryFile").load(f"{tmp}/warc").select(
                F.regexp_extract("path", r"arc-(\d+)", 1).cast("long").alias("media_id"),
                "content")
            recs = warc.warc_records(raw, include_payload=True)
            resp = recs.filter(
                (F.col("rec_type") == "response") & (F.col("http_status") == 200)
            ).select((F.col("media_id") * 100000 + F.col("rec_idx")).alias("doc_id"),
                     "target_uri", "payload_prefix")
            pages = encoding.http_text(resp, id_col="doc_id", passthrough=("target_uri",)
                                       ).filter(F.col("content_type").startswith("text/html"))
            ext = html.html_extract(pages, id_col="media_id", html_col="text",
                                    passthrough=("target_uri",))
            gated = ext.filter(text.quality_score("text") >= self.quality_min)
            survivors = dedup.exact_dedup(gated, "text", "doc_id")
            clusters = dedup.near_dup_clusters(survivors, "text", "doc_id")
            df = survivors.join(clusters, "doc_id").select(
                "doc_id", "target_uri", "text", "component")
            return ctx.action("operators.dedup.near_dup_clusters", df,
                              lambda d: [tuple(r) for r in d.collect()])

        def topk(b):
            corpus = spark.read.parquet(f"{tmp}/corpus.parquet")
            queries = spark.read.parquet(f"{tmp}/queries{b}.parquet")
            df = similarity.brute_force_topk(corpus, queries, k=self.k, exclude_self=False
                                             ).select("q_id", "vec_id", "cosine", "rank")
            return ctx.action("operators.similarity.brute_force_topk", df,
                              lambda d: [tuple(r) for r in d.collect()])

        return [
            Op("curate", curate, lambda rows: oracles.check_curation(rows, self.crawl),
               lambda _r: self.n_pages),
        ] + [
            Op("topk", lambda b=b: topk(b),
               lambda rows, b=b: oracles.check_topk(rows, self.topk_want[b]),
               lambda _r: self.queries)
            for b in range(self.topk_batches)
        ]

    def named(self, stats) -> dict:
        return {
            "curate_docs_per_s": (stats.rate("curate"), "1/s"),
            "topk_queries_per_s": (stats.rate("topk"), "1/s"),
        }

    def items_per_s(self, stats) -> float:
        return stats.rate("curate")


WORKLOADS = {w.name: w for w in (Fhir, CorpusCurate)}
