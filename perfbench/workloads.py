"""The benchmark workloads. Each drives the package only through its public
functions and checks every pass's output against a ground truth that does
not come from the code under test:

- extract_short / extract_long / extract_commit: the golden `text` column
  the generator wrote beside each page (`count` and
  `bit_xor(xxhash64(url, text))`);
- neardup_dedup: the registry's DuckDB oracle SQL run over the seeded
  `documents.parquet`, compared by value hash.

`run_pass` is one job from input to a checked result; it returns one bool
per checked output. It may write only under `work`, which is empty when the
pass starts. `probe` (traced runs only) takes the measurements that are not
part of a pass, and returns them with its own checks.

BENCHMARK.json lists extract_short and extract_long. extract_commit and
neardup_dedup are many-small-jobs workloads whose run-to-run spread on a
4-core box is too wide for a regression bound (perfbench/BASELINE.json), so
they run as the traced-run companions of the listed workloads, which keeps
their layers traced, and stay runnable on their own.
"""

from __future__ import annotations

import hashlib
import shutil
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from ai_service_ocr_grading_handler_spark.core import htmlx
from ai_service_ocr_grading_handler_spark.corpus import requests_df
from ai_service_ocr_grading_handler_spark.operators import dedup, scoring
from ai_service_ocr_grading_handler_spark.operators.extract import extract_pages
from ai_service_ocr_grading_handler_spark.plans import lineage
from ai_service_ocr_grading_handler_spark.sources.pages import read_pages
from tracing import COLD_PROBE_PASS, PROBE_PASS

HTMLX_SAMPLE = 2000
KERNEL_COLUMNS = ["url", "warc_ts", "lang", "html"]


class Workload:
    name = ""

    def __init__(self, inputs, inject: str | None):
        self.inputs, self.inject = inputs, inject

    def probe(self, spark, tr, work: Path) -> tuple[dict, list[bool]]:
        return {}, []


class _Pages(Workload):
    """A workload over one of the seeded pages corpora (`kind`)."""

    kind = ""

    def prepare(self, spark) -> None:
        self.pages, self.truth = self.inputs.ensure_pages(spark, self.kind)
        if self.inject == "bad_checksum":
            self.truth = {**self.truth, "checksum": self.truth["checksum"] ^ 1}
        if self.inject == "drop_row":
            first = pq.ParquetDataset(str(self.pages)).fragments[0]
            self.drop_url = first.to_table(columns=["url"]).column("url")[0].as_py()
        self.docs = self.truth["rows"]

    def read(self, spark):
        pages = read_pages(spark, str(self.pages))
        if self.inject == "drop_row":
            pages = pages.filter(F.col("url") != self.drop_url)
        return pages


class _ExtractPages(_Pages):
    """read_pages -> extract_pages -> aggregate; no shuffle, no write."""

    companion = None  # workload whose pass the traced run adds, cold then measured

    def run_pass(self, spark, tr, work: Path) -> list[bool]:
        with tr.layer("operators.extract"):
            r = extract_pages(self.read(spark)).agg(
                F.count(F.lit(1)).alias("rows"),
                F.bit_xor(F.xxhash64("url", "text")).alias("checksum"),
                F.sum("extract_us").alias("extract_us"),
            ).collect()[0]
        tr.count("operators.extract.kernel_s", (r["extract_us"] or 0) / 1e6)
        return [r["rows"] == self.truth["rows"] and r["checksum"] == self.truth["checksum"]]

    def probe(self, spark, tr, work: Path) -> tuple[dict, list[bool]]:
        tr.bind(spark, PROBE_PASS)
        with tr.layer("sources.pages.scan"):
            self.read(spark).select(*KERNEL_COLUMNS).write.format("noop").mode("overwrite").save()
        out = {"sources.pages.scan_tasks": self.read(spark).rdd.getNumPartitions()}
        out.update(htmlx_probe(self.pages))
        other = self.companion(self.inputs, self.inject)
        other.prepare(spark)
        checks: list[bool] = []
        for p in (COLD_PROBE_PASS, PROBE_PASS):
            shutil.rmtree(work, ignore_errors=True)
            tr.bind(spark, p)
            checks += other.run_pass(spark, tr, work)
        return out, checks


def htmlx_probe(pages: Path) -> dict:
    """Single-core driver-side kernel costs on a fixed url-ordered sample."""
    t = pq.read_table(str(pages), columns=["url", "html"]).sort_by("url").slice(0, HTMLX_SAMPLE)
    htmls = t.column("html").to_pylist()
    mb = sum(len(h) for h in htmls) / 1e6
    t0 = time.perf_counter()
    for h in htmls:
        htmlx.extract_doc(h)
    doc_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    texts = [htmlx.decode_html(h) for h in htmls]
    t1 = time.perf_counter()
    blocks = [htmlx.segment_blocks(s) for s in texts]
    t2 = time.perf_counter()
    for b in blocks:
        htmlx.classify_blocks(b)
    t3 = time.perf_counter()
    return {
        "core.htmlx.docs_per_s_1core": len(htmls) / doc_s,
        "core.htmlx.mb_per_s_1core": mb / doc_s,
        "core.htmlx.decode_s": t1 - t0,
        "core.htmlx.segment_s": t2 - t1,
        "core.htmlx.classify_s": t3 - t2,
    }


class ExtractCommit(_Pages):
    """plans.lineage over long pages: run_extract over a seeded half, a
    resume over the full table that must extract exactly the rest, then
    verify_table. Writes beside reads: salted shuffle of raw html, parquet
    append, ledger overwrite, anti-join resume frontier."""

    name = "extract_commit"
    kind = "long"

    def _half(self, pages):
        return pages.filter(F.pmod(F.xxhash64("url", F.lit(self.inputs.seed)), F.lit(2)) == 0)

    def prepare(self, spark) -> None:
        super().prepare(spark)
        self.half_rows = self.inputs.cached_json("long_half", lambda: {
            "rows": self._half(read_pages(spark, str(self.pages))).count()})["rows"]

    def run_pass(self, spark, tr, work: Path) -> list[bool]:
        with tr.layer("plans.lineage.run_extract"):
            m1 = lineage.run_extract(spark, self._half(self.read(spark)), str(work), "half")
        with tr.layer("plans.lineage.resume"):
            m2 = lineage.run_extract(spark, self.read(spark), str(work), "resume")
        with tr.layer("plans.lineage.verify"):
            v = lineage.verify_table(spark, str(work))
        todo = self.truth["rows"] - m1["rows_written"]
        tr.count("plans.lineage.resume_yield", m2["rows_written"] / todo if todo else 0.0)
        tr.count("plans.lineage.files_written", m1["output_files"] + m2["output_files"])
        tr.count("plans.lineage.written_mb", sum(
            p.stat().st_size for p in (work / "extracted").rglob("*.parquet")) / 1e6)
        if tr.spark_tags:
            us = spark.read.parquet(str(work / "metrics")).agg(F.sum("extract_us")).collect()[0][0]
            tr.count("operators.extract.kernel_s", (us or 0) / 1e6)
        return [
            m1["rows_written"] == self.half_rows,
            m2["rows_written"] == todo,
            v["consistent"] and v["rows"] == self.truth["rows"]
            and v["checksum"] == self.truth["checksum"],
        ]


def value_hash(pdf: pd.DataFrame) -> str:
    """Order- and dtype-insensitive md5 of a result frame."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif np.issubdtype(pdf[c].dtype, np.floating):
            pdf[c] = pdf[c].round(6)
    pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    return hashlib.md5(pdf.to_csv(index=False).encode()).hexdigest()


ORACLE_QUERIES = ["exact_dedup", "minhash_lsh_neardups", "simhash_neardup_pairs", "grade_requests"]


class NeardupDedup(Workload):
    """The planted-duplicate corpus (`dedup.dup_corpus`) through exact,
    MinHash-LSH and SimHash dedup, plus grading over `corpus.requests_df`:
    JVM shuffle/join/HOF work, no Python kernel."""

    name = "neardup_dedup"

    def _oracle(self) -> dict:
        import duckdb

        from ai_service_ocr_grading_handler_spark.plans.registry import oracle_sql

        sql = oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.inputs.documents}')")
            out = {q: value_hash(con.execute(sql[q]).df()) for q in ORACLE_QUERIES}
            out["rows"] = con.execute(f"SELECT count(*) FROM ({dedup.DUP_CORPUS_DUCK})").fetchone()[0]
        finally:
            con.close()
        return out

    def prepare(self, spark) -> None:
        self.inputs.ensure_documents()
        self.want = self.inputs.cached_json("dedup_oracle", self._oracle)
        if self.inject == "bad_checksum":
            self.want = {**self.want, "exact_dedup": "0" * 32}
        self.docs = self.want["rows"]
        self.dir = str(self.inputs.dir)

    def _check(self, name: str, pdf: pd.DataFrame) -> bool:
        if self.inject == "drop_row":
            pdf = pdf.iloc[1:]
        return value_hash(pdf) == self.want[name]

    def run_pass(self, spark, tr, work: Path) -> list[bool]:
        with tr.layer("operators.dedup.exact_dedup"):
            ex = dedup.exact_dedup(dedup.dup_corpus(spark, self.dir)).toPandas()
        with tr.layer("operators.dedup.minhash"):
            mh = dedup.minhash_lsh_neardups(dedup.dup_corpus(spark, self.dir)).toPandas()
        m = dedup.last_minhash_metrics()
        with tr.layer("operators.dedup.simhash"):
            sh = dedup.simhash_neardup_pairs(dedup.dup_corpus(spark, self.dir)).toPandas()
        with tr.layer("operators.scoring.grade"):
            g = scoring.grade(requests_df(spark, self.dir)).select(
                "doc_id", "grading_prompt",
                F.round("score", 2).alias("score"), F.round("max_score", 2).alias("max_score"),
                "is_correct", "is_blank",
            ).toPandas()
        tr.count("operators.dedup.minhash_max_bucket", m["max_bucket_size"])
        tr.count("operators.dedup.minhash_buckets", m["n_buckets"])
        tr.count("operators.dedup.minhash_pairs", len(mh))
        tr.count("operators.dedup.simhash_pairs", len(sh))
        return [self._check("exact_dedup", ex), self._check("minhash_lsh_neardups", mh),
                self._check("simhash_neardup_pairs", sh), self._check("grade_requests", g)]


class ExtractShort(_ExtractPages):
    """~1.7 KB pages: per-document kernel and Arrow-boundary cost."""

    name = "extract_short"
    kind = "short"
    companion = NeardupDedup


class ExtractLong(_ExtractPages):
    """~15 KB pages in 2048-row Arrow batches: per-byte kernel cost."""

    name = "extract_long"
    kind = "long"
    companion = ExtractCommit


WORKLOADS = {w.name: w for w in (ExtractShort, ExtractLong, ExtractCommit, NeardupDedup)}
