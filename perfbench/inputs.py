"""Seeded benchmark inputs: a `documents` table and the two pages corpora.

Everything here is a pure function of (seed, sizes) plus the package's own
`corpus.synth_page_row`, so the same seed gives byte-identical parquet.

- `documents.parquet` has the shape of the repo's testdata `documents`
  table (doc_id, text, lang, source, n_chars): 10-100 words drawn from the
  same 30-word vocabulary, 40 % `en`. Its `doc_id`s are a seeded bijective
  remap of 0..n-1 into [0, 1 000 000), so they stay below the +1M/+2M copy
  offsets of `dedup.dup_corpus` and the 1M replica stride used below.
- short pages: every document `SHORT_REPLICAS` times, replica r under id
  `doc_id + r * 1 000 000` (~1.7 KB html each).
- long pages: each page concatenates `LONG_PAGE_DOCS` seeded-sampled
  documents (~15 KB html each).

Pages are synthesised in this process and written with pyarrow (~3 s per
corpus at the benchmark's sizes), so a run that builds its inputs runs the
same jobs in its measured JVM as one that reuses them, apart from the
aggregates that record the expected outputs. Outputs are cached under
`<root>/.perfbench_cache/<key>` where the key hashes the seed, the sizes,
this file and `corpus.py`, so a changed generator never reuses stale data.
"""

from __future__ import annotations

import hashlib
import json
import math
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
ID_SPACE = 1_000_000
MIN_WORDS, MAX_WORDS = 10, 100
LONG_PAGE_DOCS = 40

# corpus.PAGES_SCHEMA_DDL; synth_page_row's naive warc_ts is UTC, the
# session time zone get_spark pins
PAGES_SCHEMA = pa.schema(
    [("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")), ("html", pa.binary()),
     ("text", pa.string()), ("lang", pa.string())]
)
DOCS_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
     ("source", pa.string())]
)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _id_remap(seed: int, stream: int, n: int) -> np.ndarray:
    """Bijective affine map i -> (a*i + b) mod ID_SPACE, a coprime to it."""
    if n > ID_SPACE:
        raise ValueError(f"at most {ID_SPACE} ids, got {n}")
    rng = _rng(seed, stream)
    a = int(rng.integers(1, ID_SPACE))
    while math.gcd(a, ID_SPACE) != 1:
        a += 1
    b = int(rng.integers(0, ID_SPACE))
    return (np.arange(n, dtype=np.int64) * a + b) % ID_SPACE


def documents(seed: int, n_docs: int) -> pa.Table:
    rng = _rng(seed, 1)
    n_words = rng.integers(MIN_WORDS, MAX_WORDS + 1, n_docs)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    texts = [" ".join(words[e - n : e]) for n, e in zip(n_words, ends)]
    langs = np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]
    return pa.table(
        {
            "doc_id": pa.array(_id_remap(seed, 2, n_docs)),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def short_rows(docs: pa.Table, replicas: int) -> pa.Table:
    ids = docs.column("doc_id").to_numpy()
    return pa.table(
        {
            "doc_id": pa.array(np.concatenate([ids + r * ID_SPACE for r in range(replicas)])),
            "text": pa.concat_arrays([docs.column("text").combine_chunks()] * replicas),
            "lang": pa.concat_arrays([docs.column("lang").combine_chunks()] * replicas),
            "source": pa.concat_arrays([docs.column("source").combine_chunks()] * replicas),
        },
        schema=DOCS_SCHEMA,
    )


def long_rows(docs: pa.Table, seed: int, n_pages: int) -> pa.Table:
    rng = _rng(seed, 3)
    picks = rng.integers(0, docs.num_rows, (n_pages, LONG_PAGE_DOCS))
    texts = docs.column("text").to_pylist()
    langs = docs.column("lang").to_pylist()
    sources = docs.column("source").to_pylist()
    return pa.table(
        {
            "doc_id": pa.array(_id_remap(seed, 4, n_pages)),
            "text": pa.array([" ".join(texts[i] for i in row) for row in picks]),
            "lang": pa.array([langs[row[0]] for row in picks]),
            "source": pa.array([sources[row[0]] for row in picks]),
        },
        schema=DOCS_SCHEMA,
    )


def synth_pages(rows: pa.Table, out: Path, n_files: int) -> None:
    """docs-like rows -> pages parquet via `corpus.synth_page_row`, written
    from this process as `n_files` equal slices, so building inputs runs no
    job in the measured JVM."""
    from ai_service_ocr_grading_handler_spark.corpus import synth_page_row

    cols = (rows.column(c).to_pylist() for c in ("doc_id", "text", "lang", "source"))
    table = pa.Table.from_pylist(
        [synth_page_row(int(i), t, lang, src) for i, t, lang, src in zip(*cols)],
        schema=PAGES_SCHEMA,
    )
    out.mkdir(parents=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), out / f"part-{k:05d}.parquet")


def ground_truth(spark, pages: Path) -> dict:
    """count and bit_xor(xxhash64(url, text)) of the pages' golden text."""
    import pyspark.sql.functions as F

    r = spark.read.parquet(str(pages)).agg(
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64("url", "text")).alias("checksum"),
        F.sum(F.length("html")).alias("html_bytes"),
    ).collect()[0]
    return {"rows": int(r["rows"]), "checksum": int(r["checksum"]), "html_bytes": int(r["html_bytes"])}


class Inputs:
    """The cached inputs of one (seed, sizes); `ensure_*` build on demand."""

    def __init__(self, root: Path, package: Path, seed: int, n_docs: int,
                 short_replicas: int, long_pages: int, n_files: int):
        self.seed, self.n_docs = seed, n_docs
        self.short_replicas, self.long_pages, self.n_files = short_replicas, long_pages, n_files
        h = hashlib.sha256()
        h.update(json.dumps([seed, n_docs, short_replicas, long_pages, n_files]).encode())
        h.update(Path(__file__).read_bytes())
        h.update((package / "corpus.py").read_bytes())
        self.dir = root / ".perfbench_cache" / f"s{seed}-{h.hexdigest()[:16]}"
        self.gen_s = 0.0

    @property
    def documents(self) -> Path:
        return self.dir / "documents.parquet"

    def _timed(self, build, marker: Path):
        if marker.exists():
            return
        t0 = time.perf_counter()
        build()
        self.gen_s += time.perf_counter() - t0

    def ensure_documents(self) -> Path:
        def build():
            self.dir.mkdir(parents=True, exist_ok=True)
            tmp = self.documents.with_suffix(".tmp")
            pq.write_table(documents(self.seed, self.n_docs), tmp)
            tmp.replace(self.documents)

        self._timed(build, self.documents)
        return self.documents

    def ensure_pages(self, spark, kind: str) -> tuple[Path, dict]:
        """kind 'short' or 'long' -> (pages dir, ground truth)."""
        docs_path = self.ensure_documents()
        out = self.dir / f"{kind}_pages"
        truth = self.dir / f"{kind}_truth.json"

        def build():
            docs = pq.read_table(docs_path)
            rows = (short_rows(docs, self.short_replicas) if kind == "short"
                    else long_rows(docs, self.seed, self.long_pages))
            shutil.rmtree(out, ignore_errors=True)
            synth_pages(rows, out, self.n_files)
            tmp = truth.with_suffix(".tmp")
            tmp.write_text(json.dumps(ground_truth(spark, out)))
            tmp.replace(truth)

        self._timed(build, truth)
        return out, json.loads(truth.read_text())

    def cached_json(self, name: str, build) -> dict:
        """A JSON result cached beside the inputs (e.g. oracle hashes)."""
        p = self.dir / f"{name}.json"

        def write():
            tmp = p.with_suffix(".tmp")
            tmp.write_text(json.dumps(build()))
            tmp.replace(p)

        self._timed(write, p)
        return json.loads(p.read_text())
