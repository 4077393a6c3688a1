"""The benchmark workloads: one pass of each, its output check, and its
traced pass.

A workload drives the package's public API from outside, exactly as a user
script would. ``run_pass`` is what the timed loop measures; ``check``
verifies that pass's output against the generator's expected counts and
returns the problems found (an empty list means correct). ``traced_pass``
calls each layer's public function itself, in the pipeline's order, each
call under its own span, and returns the per-layer metrics.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from yelp_business_data_pipeline_spark.operators.business import business_etl
from yelp_business_data_pipeline_spark.operators.dedup import fuzzy_dedup_clusters, minhash_lsh_candidates
from yelp_business_data_pipeline_spark.operators.ppl import fit_bigram_lm
from yelp_business_data_pipeline_spark.operators.qualityclf import train_quality_classifier
from yelp_business_data_pipeline_spark.operators.review import review_etl
from yelp_business_data_pipeline_spark.operators.screen import pretrain_screen
from yelp_business_data_pipeline_spark.operators.unified import unified_analytics
from yelp_business_data_pipeline_spark.operators.user import user_etl
from yelp_business_data_pipeline_spark.pipeline import DOMAIN_KEYS, YelpPaths, run_batch
from yelp_business_data_pipeline_spark.schemas import (
    BUSINESS_RAW_SCHEMA,
    REVIEW_RAW_SCHEMA,
    USER_RAW_SCHEMA,
)
from yelp_business_data_pipeline_spark.sources.readers import read_json_lines
from yelp_business_data_pipeline_spark.sources.writers import write_append_idempotent, write_overwrite

MB = 1024 * 1024

YELP_DOMAINS = (
    # name, raw schema, ETL, partition column added by run_batch
    ("business", BUSINESS_RAW_SCHEMA, business_etl, "state"),
    ("review", REVIEW_RAW_SCHEMA, review_etl, "review_year"),
    ("user", USER_RAW_SCHEMA, user_etl, None),
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _parquet_files(path: str) -> list[str]:
    """Data files of a Spark-written parquet table (hidden and ``_`` files
    excluded, as Spark's reader does)."""
    return [
        os.path.join(d, n)
        for d, _, names in os.walk(path)
        for n in names
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    ]


def _parquet_rows(path: str) -> int:
    return sum(pq.read_metadata(f).num_rows for f in _parquet_files(path))


def _read_columns(path: str, columns: list[str]) -> dict[str, list]:
    t = pa.concat_tables(pq.read_table(f, columns=columns) for f in _parquet_files(path))
    return {c: t.column(c).to_pylist() for c in columns}


def _tree_size(path: str) -> tuple[int, float]:
    """(parquet files, MiB) under ``path``."""
    files = _parquet_files(path)
    return len(files), sum(os.path.getsize(f) for f in files) / MB


class YelpLoad:
    """``pipeline.run_batch`` over the seeded Yelp JSON into an empty
    output directory: JSON parse, the three ETLs, three idempotent appends
    into new partitioned tables, and the unified join and overwrite."""

    name = "yelp_load"

    def __init__(self, data_dir: str, work_dir: str, manifest: dict):
        self.data, self.work, self.expected = data_dir, work_dir, manifest["expected"]
        self.rows_per_pass = sum(manifest["expected"]["lines"].values())
        self._n = 0

    def paths(self, out_dir: str) -> YelpPaths:
        return YelpPaths(*(os.path.join(self.data, d) for d in ("business", "review", "user")), out_dir)

    def run_pass(self, spark) -> str:
        self._n += 1
        out = os.path.join(self.work, f"out-{self._n}")
        run_batch(spark, self.paths(out))
        return out

    def counts(self, out: str) -> dict:
        """Rows of each output table, summed from the parquet footers."""
        p = self.paths(out)
        return {
            name: _parquet_rows(path)
            for name, path in (
                ("review", p.review_out),
                ("business", p.business_out),
                ("user", p.user_out),
                ("unified", p.unified_out),
            )
        }

    def check(self, out: str) -> list[str]:
        got = self.counts(out)
        return [f"{k}: {got[k]} rows, expected {self.expected[k]}" for k in got if got[k] != self.expected[k]]

    def traced_pass(self, spark, tracer) -> tuple[str, dict]:
        """The ``run_batch`` sequence, one span per layer call. Spark is
        lazy, so each layer's frame is materialized with an eager
        ``localCheckpoint`` inside its span, and the next layer reads that
        checkpoint: a span holds its own layer's work and no upstream
        recomputation."""
        self._n += 1
        out = os.path.join(self.work, f"out-{self._n}")
        paths = self.paths(out)
        rows_in, rows_out, frames = {}, {}, {}
        m: dict = {}
        with tracer.span("pass"):
            for name, schema, etl, part in YELP_DOMAINS:
                with tracer.span(f"readers.{name}"):
                    raw = read_json_lines(spark, os.path.join(self.data, name), schema).localCheckpoint()
                rows_in[name] = raw.count()
                with tracer.span(f"etl.{name}") as s:
                    df = etl(raw)
                    if part == "review_year":  # derived exactly as run_batch does
                        df = df.withColumn("review_year", F.year("date"))
                    df = df.localCheckpoint()
                m[f"etl.{name}_s"] = s.wall
                rows_out[name] = df.count()
                frames[name] = (df, part)
            self._write_all(tracer, "writers", frames, paths)
            with tracer.span("unified"):
                biz, rev, usr = (spark.read.parquet(p) for p in (paths.business_out, paths.review_out, paths.user_out))
                write_overwrite(unified_analytics(rev, usr, biz), paths.unified_out)
            counts = self.counts(out)
            # The re-triggered job: the same appends against the output just
            # written. Every writer reads the existing keys, anti-joins and
            # appends nothing.
            self._write_all(tracer, "rerun", frames, paths)
        m["readers.scan_s"] = tracer.total("readers.")
        m["readers.rows_in"] = sum(rows_in.values())
        m["readers.malformed_dropped"] = sum(self.expected["lines"].values()) - m["readers.rows_in"]
        m["etl.keep_ratio"] = rows_out["review"] / rows_in["review"]
        m["writers.rows_offered"] = sum(rows_out.values())
        m["writers.append_s"] = tracer.total("writers.")
        m["writers.rerun_append_s"] = tracer.total("rerun.")
        m["unified.rebuild_s"] = tracer.total("unified")
        m["writers.rows_appended"] = counts["review"] + counts["business"] + counts["user"]
        m["unified.grain_ratio"] = counts["unified"] / counts["review"]
        m["writers.files"], m["writers.output_mb"] = 0, 0.0
        for d in (paths.business_out, paths.review_out, paths.user_out):
            f, mb = _tree_size(d)
            m["writers.files"] += f
            m["writers.output_mb"] += mb
        after = self.counts(out)
        m["writers.rerun_rows_appended"] = sum(after[k] - counts[k] for k in ("review", "business", "user"))
        return out, m

    @staticmethod
    def _write_all(tracer, prefix: str, frames: dict, paths: YelpPaths) -> None:
        """Run the three idempotent appends of ``run_batch``, one span each."""
        for name, (df, part) in frames.items():
            with tracer.span(f"{prefix}.{name}"):
                write_append_idempotent(
                    df, getattr(paths, f"{name}_out"), keys=DOMAIN_KEYS[name],
                    partition_by=[part] if part else None,
                )


class CorpusCurate:
    """LLM-data curation on the seeded document corpus: fit the quality
    classifier and the bigram LM, run the composed pretraining screen, then
    fuzzy-dedup the kept documents."""

    name = "corpus_curate"

    def __init__(self, data_dir: str, work_dir: str, manifest: dict):
        self.data, self.work = data_dir, work_dir
        self.n_docs = manifest["expected"]["docs"]
        self.pairs = [tuple(p) for p in manifest["expected"]["pairs"]]
        self.rows_per_pass = self.n_docs
        self._n = 0

    def _docs(self, spark):
        return spark.read.parquet(os.path.join(self.data, "docs"))

    def run_pass(self, spark) -> str:
        self._n += 1
        out = os.path.join(self.work, f"out-{self._n}")
        docs = self._docs(spark)
        model = train_quality_classifier(docs, F.col("lang") == "en")
        lm = fit_bigram_lm(docs)
        pretrain_screen(docs, model, lm, carry=("lang",)).select("doc_id", "keep").write.parquet(f"{out}/verdict")
        kept = docs.join(self._kept_ids(spark, out), "doc_id", "left_semi")
        fuzzy_dedup_clusters(kept, "doc_id", "text").select("doc_id", "entity_id").write.parquet(
            f"{out}/entities"
        )
        return out

    @staticmethod
    def _kept_ids(spark, out: str):
        return spark.read.parquet(f"{out}/verdict").filter("keep").select("doc_id")

    def check(self, out: str) -> list[str]:
        """Kept plus dropped covers every doc once, dedup labels exactly
        the kept docs, and every planted near-duplicate pair whose two docs
        were both kept shares one entity."""
        v = _read_columns(f"{out}/verdict", ["doc_id", "keep"])
        e = _read_columns(f"{out}/entities", ["doc_id", "entity_id"])
        kept = {d for d, k in zip(v["doc_id"], v["keep"]) if k}
        entity = dict(zip(e["doc_id"], e["entity_id"]))
        problems = []
        if len(v["doc_id"]) != self.n_docs or len(set(v["doc_id"])) != self.n_docs or None in v["keep"]:
            problems.append(f"{len(v['doc_id'])} verdict rows do not cover the {self.n_docs} docs once")
        if set(entity) != kept or len(e["doc_id"]) != len(kept):
            problems.append(f"{len(e['doc_id'])} dedup rows for {len(kept)} kept docs")
        both = [(a, b) for a, b in self.pairs if a in entity and b in entity]
        split = [(a, b) for a, b in both if entity[a] != entity[b]]
        if not both:
            problems.append("no planted near-duplicate pair survived the screen")
        if split:
            problems.append(f"{len(split)} of {len(both)} planted near-duplicate pairs split, e.g. {split[:3]}")
        return problems

    def traced_pass(self, spark, tracer) -> tuple[str, dict]:
        """The curation sequence, one span per public call. Dedup gets two:
        ``minhash_lsh_candidates`` alone, then ``fuzzy_dedup_clusters``
        itself, the call the timed pass makes. Its verification and entity
        resolution are the second span minus the first."""
        self._n += 1
        out = os.path.join(self.work, f"out-{self._n}")
        m: dict = {}
        with tracer.span("pass"):
            docs = self._docs(spark)
            with tracer.span("qualityclf.fit") as s:
                model = train_quality_classifier(docs, F.col("lang") == "en")
            m["qualityclf.fit_s"] = s.wall
            with tracer.span("ppl.fit") as s:
                lm = fit_bigram_lm(docs)
                for t in lm[:2]:
                    _noop(t)
                lm[2].collect()
            m["ppl.fit_s"] = s.wall
            with tracer.span("screen.verdict") as s:
                pretrain_screen(docs, model, lm, carry=("lang",)).select("doc_id", "keep").write.parquet(
                    f"{out}/verdict"
                )
            m["screen.verdict_s"] = s.wall
            m["screen.py_worker_cpu_s"] = s.jvm["py_cpu_s"]
            kept = docs.join(self._kept_ids(spark, out), "doc_id", "left_semi")
            obs = Observation("candidates")
            with tracer.span("dedup.lsh") as lsh:
                _noop(minhash_lsh_candidates(kept, "doc_id", "text").observe(obs, F.count(F.lit(1)).alias("n")))
            m["dedup.candidate_pairs"] = obs.get["n"]
            m["dedup.lsh_s"] = lsh.wall
            # not a "dedup." span: the layer counters of dedup are LSH's alone
            with tracer.span("fuzzy_dedup_clusters") as fdc:
                fuzzy_dedup_clusters(kept, "doc_id", "text").select("doc_id", "entity_id").write.parquet(
                    f"{out}/entities"
                )
            m["dedup.clusters_s"] = fdc.wall
            m["components.resolve_s"] = fdc.wall - lsh.wall
            for k, v in fdc.counters.items():
                m[f"components.{k}"] = v - lsh.counters[k]
        m["screen.keep_ratio"] = sum(_read_columns(f"{out}/verdict", ["keep"])["keep"]) / self.n_docs
        entities = _read_columns(f"{out}/entities", ["entity_id"])["entity_id"]
        m["dedup.merged_docs"] = len(entities) - len(set(entities))
        return out, m


WORKLOADS = {w.name: w for w in (YelpLoad, CorpusCurate)}
