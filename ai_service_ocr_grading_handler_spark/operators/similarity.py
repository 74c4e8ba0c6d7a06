"""Similarity search over embedding columns (array<float>).

Three tiers:

- **Brute-force cosine top-k** — the correctness baseline: a broadcast
  cross-join of a small query set against the corpus, dot products as native
  per-row array folds (`zip_with` + `aggregate`, JVM-side, no Python), then
  a per-query window top-k. Cost: |queries| x |corpus| — fine when the query
  set is broadcastable, the exact-verification tail of any ANN pipeline.
- **Sign-LSH (random-hyperplane) buckets** — the 100 TB path: a P-bit
  signature per vector from deterministic Rademacher hyperplanes; bucket
  equality generates candidates (shuffle on small bucket keys), cosine
  verifies ONLY candidates. Hyperplanes are a fixed ±1 pattern derived from
  (plane, dim) arithmetic so both Spark and the DuckDB oracle compute the
  identical signature — and re-runs are deterministic (resume-safe).
- **IVF multi-probe** — coarse quantizer cells as the bucketing/partition
  key; queries probe NPROBE inverted lists and search only those (see the
  IVF section below).

All arithmetic is done in float64 in INDEX ORDER on both sides (Spark
`aggregate` folds left-to-right; DuckDB `list_sum` over `list_transform`),
then rounded to 4 decimals before any threshold/rank so the two engines
cannot diverge on ties.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from ai_service_ocr_grading_handler_spark.core.partitioning import (
    fanout_repartition,
    widen_if_narrow,
)
from ai_service_ocr_grading_handler_spark.core.telemetry import (
    latest,
    observation_metrics,
    persist_bounded,
    register,
)

EMB_DIM = 64
LSH_PLANES = 16


def _dot(a: Column, b: Column, dim: int = EMB_DIM) -> Column:
    """Σ a[i]*b[i] in float64, index order.

    Flat left-associated term sum, not a zip_with/aggregate fold:
    higher-order-function lambdas are interpreted per element (the fold
    form measured ~3.4 s per million element-ops; this codegen form is
    milliseconds after a one-time Janino compile). 0.0 + t0 == t0 and the
    same add order keep every double bit-identical to the fold, so ranks
    and the DuckDB oracle are unchanged.

    try_element_at, NOT element_at: under Spark 4's ANSI mode a plain
    element_at on an embedding shorter than `dim` throws
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT and kills the whole job — one
    poisoned row must never kill a task. try_element_at yields NULL, the
    NULL propagates through the sum, and the row's cosine is NULL (then
    filtered/ranked out) — exactly what the old zip_with fold produced
    for length-mismatched arrays (zip padding -> NULL products -> NULL
    fold). Dimensions beyond `dim` are ignored by contract."""
    acc: Column | None = None
    for i in range(dim):
        t = F.try_element_at(a, F.lit(i + 1)).cast("double") * F.try_element_at(
            b, F.lit(i + 1)
        ).cast("double")
        acc = t if acc is None else acc + t
    return acc


def cosine(a: Column, b: Column) -> Column:
    """An all-zeros vector must yield NULL, never kill or pollute: under
    Spark 4's ANSI mode a plain `/` on the 0.0 norm product THROWS
    DIVIDE_BY_ZERO (task + retries die for one poisoned row — confirmed in
    test), and were NaN produced instead, Spark sorts NaN ABOVE every
    double, ranking the zero vector FIRST in every top-k and passing
    `cos >= t` filters. try_divide returns NULL on a zero divisor and
    nanvl(NULL) catches any residual NaN; NULL sorts last under desc and
    fails every comparison — the drop-the-row semantics the _dot docstring
    promises (found by review; pinned by test)."""
    c = F.try_divide(_dot(a, b), F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))
    return F.nanvl(c, F.lit(None).cast("double"))


DUCK_DOT = (
    "list_sum(list_transform(range(1, {dim} + 1),"
    " i -> ({a})[i]::double * ({b})[i]::double))"
)


def duck_cosine(a: str, b: str, dim: int = EMB_DIM) -> str:
    dot = DUCK_DOT.format(a=a, b=b, dim=dim)
    na = DUCK_DOT.format(a=a, b=a, dim=dim)
    nb = DUCK_DOT.format(a=b, b=b, dim=dim)
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


def cosine_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    n_queries: int = 20,
) -> DataFrame:
    """Brute-force exact top-k: rank over round(cos,4) desc, neighbor id asc
    (rounding first makes the rank identical across engines)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    # widen the corpus side before the |queries| x |corpus| cosine
    # projection: at bench scale the embeddings scan is one ~6 MB split, so
    # the entire brute-force scoring otherwise runs in a single task
    # (guide §2.5; no-op when the scan is already wide)
    corpus = widen_if_narrow(
        emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_emb"))
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("n_id") != F.col("q_id"))
        .select(
            "q_id",
            "n_id",
            F.round(cosine(F.col("q_emb"), F.col("n_emb")), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "n_id", "cos")
    )


# --- sign-LSH -----------------------------------------------------------------
# hyperplane sign s(p, d) = +1 if (p*97 + d*31 + (p*d) % 7) % 2 == 0 else -1
# (fixed arithmetic pattern, identical in Spark SQL and DuckDB)

_SIGN_SPARK = "(CASE WHEN pmod({p}*97 + d*31 + pmod({p}*d, 7), 2) = 0 THEN 1.0 ELSE -1.0 END)"
_SIGN_DUCK = "(CASE WHEN (({p}*97 + d*31 + ({p}*d) % 7) % 2) = 0 THEN 1.0 ELSE -1.0 END)"


def lsh_bucket_col(emb_col: str = "embedding", planes: int = LSH_PLANES) -> Column:
    """P-bit signature: bit p = sign(Σ_d emb[d] * s(p,d)) — per-row fold.

    Deliberately the fold form, NOT the flat ±term form used by _dot: a
    16-plane x 64-dim flat expression is a single 1024-term tree that
    overflows Janino's 64 KB method limit; the compile-then-fallback retry
    costs ~5 s and — depending on the surrounding stage shape — is NOT
    reliably cached across executions (measured: 3.0 s steady at sf0.1 but
    6.0 s min-of-2 at sf0.01, i.e. every pass re-paid the failed compile).
    The fold compiles to a few hundred bytes and its interpreted
    per-element cost is bounded by the corpus's embedding width. Keep flat
    forms for expressions <= ~200 terms (see _dot)."""
    terms = " + ".join(
        (
            "(CASE WHEN aggregate(zip_with({e}, sequence(0, size({e}) - 1),"
            " (x, d) -> cast(x as double) * {s}), 0.0D, (acc, v) -> acc + v) >= 0"
            " THEN shiftleft(1L, {p}) ELSE 0L END)"
        ).format(e=emb_col, s=_SIGN_SPARK.format(p=p), p=p)
        for p in range(planes)
    )
    return F.expr(terms)


def lsh_bucket_duck(emb_expr: str, dim: int = EMB_DIM, planes: int = LSH_PLANES) -> str:
    terms = " + ".join(
        (
            "(CASE WHEN list_sum(list_transform(range(0, {dim}),"
            " d -> ({e})[d + 1]::double * {s})) >= 0"
            " THEN (1::bigint << {p}) ELSE 0 END)"
        ).format(e=emb_expr, s=_SIGN_DUCK.format(p=p), p=p, dim=dim)
        for p in range(planes)
    )
    return f"({terms})"


def neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings + planted exact duplicates (vec_id+10000 for vec_id%7==0):
    the near-dup ground truth for the LSH query."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    copies = emb.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    return emb.unionAll(copies)


NEARDUP_CORPUS_DUCK = """
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id % 7 = 0
"""


def lsh_neardups(
    df: DataFrame, threshold: float = 0.9, max_bucket: int = 1000
) -> DataFrame:
    """ANN near-dup pairs: group by LSH bucket, generate ID pairs INSIDE
    each bucket (sorted collect -> i<j explode), then cosine-verify the
    candidates with the embeddings JOINED BACK by id.

    Round-6 shape (guide §2.3 "shuffle keys and metadata instead of
    payloads" / §8): the bucket rows collect only sorted vec_ids, so a
    dense bucket of k members materializes k ids + k(k-1)/2 id-pairs —
    not k(k-1)/2 structs each dragging TWO full embeddings (at sf1.0 the
    92 buckets yield 5.9M candidate pairs; the old embedded-pair form
    allocated ~3 GB of short-lived structs and evaluated the interpreted
    3-fold cosine per pair, ~10 s). The embeddings and their precomputed
    norms attach via two joins on the persisted signature frame, and the
    per-pair work drops to ONE flat codegen dot product + a multiply:
    sqrt(dot(a,a)) moves from per-pair to per-vector — the identical
    expression on the identical input, so every cosine bit matches the
    round-5 form and the DuckDB oracle.

    Buckets are still capped at max_bucket sorted members (the sort key
    was (vec_id, embedding); vec_id is unique, so sorting ids alone keeps
    the exact same survivor set)."""
    from ai_service_ocr_grading_handler_spark.operators.dedup import in_bucket_pairs_expr

    # the P x dim signature fold is the dominant per-row cost: widen off
    # the single-split scan stage first (no-op on a wide input)
    df = widen_if_narrow(df, by=F.col("vec_id"))
    # fold-form self-dot for the norm (same bits as the flat form: the
    # fold's 0.0D seed + t0 == t0; see the pair-dot note below)
    self_dot = F.expr(
        "aggregate(zip_with(embedding, embedding,"
        " (x, y) -> cast(x as double) * cast(y as double)),"
        " 0.0D, (acc, v) -> acc + v)"
    )
    sigs = df.select(
        "vec_id",
        "embedding",
        F.sqrt(self_dot).alias("nrm"),
        lsh_bucket_col().alias("bucket"),
    )
    # three consumers (bucket groupBy + both join-back sides): persist so
    # the signature fold runs once (bounded-window eviction, see core.telemetry)
    sigs = persist_bounded(sigs)
    pairs = in_bucket_pairs_expr("ids", "struct(x AS a_id, y AS b_id)")
    # fan-out exchanges around the explode: one before it spreads pair
    # GENERATION over the ~|buckets| tiny bucket rows; a second one on
    # a_id after it balances pair VERIFICATION regardless of bucket skew
    # (the shuffle carries 24-byte id pairs — the §8 "move keys, not
    # payloads" shape)
    cand = (
        sigs.groupBy("bucket")
        .agg(F.slice(F.array_sort(F.collect_list("vec_id")), 1, max_bucket).alias("ids"))
        .filter(F.size("ids") > 1)
        .transform(fanout_repartition, F.col("bucket"))
        .select("bucket", F.explode(F.expr(pairs)).alias("p"))
        .select(F.col("p.a_id").alias("a_id"), F.col("p.b_id").alias("b_id"), "bucket")
        .transform(fanout_repartition, F.col("a_id"))
    )
    joined = cand.join(
        sigs.select(
            F.col("vec_id").alias("a_id"),
            F.col("embedding").alias("emb_a"),
            F.col("nrm").alias("nrm_a"),
        ),
        "a_id",
    ).join(
        sigs.select(
            F.col("vec_id").alias("b_id"),
            F.col("embedding").alias("emb_b"),
            F.col("nrm").alias("nrm_b"),
        ),
        "b_id",
    )
    # cos is emitted through an inline(array(struct)) Generate BARRIER:
    # a plain projected column would let Catalyst push `cos >= threshold`
    # INTO the join as a non-equi condition (expression substitution), so
    # the 64-term dot ran per candidate inside a SortMergeJoin AND again
    # in the output projection — measured 179 s vs ~3 s at sf1.0. With the
    # barrier the joins stay pure equi (AQE broadcasts the small signature
    # side), the dot is evaluated exactly once per pair, and the filter
    # sits above the Generate where it cannot sink. Unlike the round-4
    # Generate-barrier experiment (which materialized pair structs with
    # full embeddings), this struct is one double.
    # fold-form dot, NOT the flat _dot: at 5.9M pairs the 64-term
    # try_element_at tree compiles into a generated method past HotSpot's
    # 8000-bytecode JIT limit, so it executes in the bytecode interpreter
    # (~72 us/row measured — 13.6 s for a 6M-row projection vs 3.3 s for
    # this fold, with zero Janino/codegen warnings either way). Same sum
    # order (0.0D + t0 == t0), same NULL semantics on 64-dim input, so
    # every cosine bit matches the oracle.
    pair_dot = F.expr(
        "aggregate(zip_with(emb_a, emb_b,"
        " (x, y) -> cast(x as double) * cast(y as double)),"
        " 0.0D, (acc, v) -> acc + v)"
    )
    cos = F.round(
        F.nanvl(
            F.try_divide(pair_dot, F.col("nrm_a") * F.col("nrm_b")),
            F.lit(None).cast("double"),
        ),
        4,
    )
    return (
        joined.select(
            "a_id", "b_id", "bucket", F.inline(F.array(F.struct(cos.alias("cos"))))
        )
        .filter(F.col("cos") >= threshold)
    )


# --- IVF (inverted-file) ANN -----------------------------------------------------
# Coarse quantizer: K deterministic pseudo-random centroids; cell = argmax
# dot(emb, centroid). Queries probe the NPROBE best cells and search only
# those inverted lists — at 100 TB the corpus is bucketed/partitioned by
# `cell`, so a probe is a partition-pruned scan, never a full pass.

IVF_CELLS = 16
IVF_NPROBE = 4

# centroid value for (cell c, dim d) in [-1, 1] — same arithmetic in Spark
# SQL and DuckDB (all args non-negative, so % == pmod):
_CENTROID_SPARK = "((pmod({c}*31 + d*17 + pmod({c}*d, 13), 7) - 3) / 3.0)"
_CENTROID_DUCK = "(((({c}*31 + d*17 + ({c}*d) % 13) % 7) - 3) / 3.0)"


def ivf_dots_col(emb_col: str = "embedding") -> Column:
    """Array of K centroid dot products (native folds).

    Deliberately NOT the flat-term form used by _dot/lsh_bucket_col: all K
    dots live in ONE CreateArray expression (16 x 64 = 1024 terms), which
    (a) overflows Janino's 64 KB method limit — the compile-retry OOMs a
    default-1g driver JVM (the external harness's session!) — and (b) gets
    re-inlined into the parquet scan filter by the inferred
    isnotnull(cell) pushdown, tripling the blowup. The fold form compiles
    to a few hundred bytes; its interpreted per-element cost is acceptable
    because IVF probes touch a bounded query set, never the full corpus."""
    return F.expr(ivf_dots_expr(emb_col))


def ivf_dots_expr(emb_col: str = "embedding") -> str:
    """SQL text of the K-centroid dot array (see ivf_dots_col)."""
    dots = [
        (
            "aggregate(zip_with({e}, sequence(0, size({e}) - 1),"
            " (x, d) -> cast(x as double) * {cv}), 0.0D, (acc, v) -> acc + v)"
        ).format(e=emb_col, cv=_CENTROID_SPARK.format(c=c))
        for c in range(IVF_CELLS)
    ]
    return "array(" + ", ".join(dots) + ")"


def ivf_dots_duck(emb_expr: str, dim: int = EMB_DIM) -> str:
    dots = [
        (
            "list_sum(list_transform(range(0, {dim}),"
            " d -> ({e})[d + 1]::double * {cv}))"
        ).format(e=emb_expr, cv=_CENTROID_DUCK.format(c=c), dim=dim)
        for c in range(IVF_CELLS)
    ]
    return "[" + ", ".join(dots) + "]"


def ivf_cell_col(dots_col: str = "dots") -> Column:
    """Assigned cell = 1-based argmax of the dot array (first max on ties)."""
    return F.expr(f"array_position({dots_col}, array_max({dots_col}))").cast("int")


def ivf_probes_col(dots_col: str = "dots", nprobe: int = IVF_NPROBE) -> Column:
    """Cells to probe: every index whose dot >= the nprobe-th largest
    (ties may widen the probe set — identical semantics in the oracle)."""
    kth = IVF_CELLS - nprobe + 1
    return F.expr(
        f"filter(sequence(1, {IVF_CELLS}),"
        f" i -> element_at({dots_col}, i) >= element_at(array_sort({dots_col}), {kth}))"
    )


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    n_queries: int = 10,
) -> DataFrame:
    """IVF ANN: assign cells (one pass, behind a repartition boundary so the
    K-dot array is computed once), probe NPROBE cells per query, exact
    cosine top-k within the probed lists only."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # corpus-side cell assignment fused into one projection (`dots` bound
    # once via the lambda hoist) ABOVE a widen_if_narrow exchange: the
    # former dots-then-repartition-then-cell form computed the 16x64
    # quantizer fold inside the single-split scan stage
    cell_expr = (
        f"element_at(transform(array({ivf_dots_expr('embedding')}),"
        f" dots -> cast(array_position(dots, array_max(dots)) as int)), 1)"
    )
    corpus = widen_if_narrow(emb, by=F.col("vec_id")).select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_emb"),
        F.expr(cell_expr).alias("cell"),
    )
    queries = (
        emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding", ivf_dots_col().alias("dots"))
        .repartition(F.col("vec_id"))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            ivf_probes_col().alias("probes"),
        )
    )
    scored = (
        corpus.join(
            F.broadcast(queries),
            F.expr("array_contains(probes, cell)") & (F.col("n_id") != F.col("q_id")),
        )
        .select(
            "q_id",
            "n_id",
            "cell",
            F.round(cosine(F.col("q_emb"), F.col("n_emb")), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "n_id", "cell", "cos")
    )


# --- SemDeDup-style semantic dedup ----------------------------------------------


def last_semantic_dedup_metrics() -> dict:
    """Cell-cap telemetry for the newest semantic_dedup invocation with
    COMPLETED metrics: `capped_cells`, `max_cell_size`, `n_cells`,
    `invocation`. Never blocks (see core.telemetry.observation_metrics)."""
    return latest("semantic_dedup", observation_metrics)


def semantic_dedup(
    df: DataFrame, threshold: float = 0.92, max_cell: int = 1000
) -> DataFrame:
    """Embedding-space near-duplicate pruning in the SemDeDup mold (Abbas
    et al. 2023, arXiv:2303.09540: cluster with a coarse quantizer, prune
    within clusters): every vector lands in its IVF cell, and a vector is
    DROPPED iff some LOWER-id vector in the same cell has cosine >
    threshold. Returns the survivors as (vec_id, cell).

    Keep rule (documented precisely — it differs from the paper's
    random-keep): drop x iff ∃ y < x in cell(x) with cos(x, y) > τ. The
    minimum id of every near-dup cluster always survives; the rule is
    deterministic in ids alone, so a resumed or re-partitioned run prunes
    byte-identically, and the whole survivor set is value-oracle-checkable
    as a single NOT EXISTS in DuckDB.

    Plan shape at 100 TB: cell assignment is a per-row fold (scan speed),
    ONE shuffle on the cell key, in-cell i<j pair generation over sorted
    (id, embedding) structs (capped at max_cell like every bucketed tier —
    an over-full cell means the quantizer needs more cells), cosine on
    candidate pairs only, then a broadcast-able anti-join of the dropped
    ids. Like SemDeDup itself, cross-cell near-dups are out of contract:
    the quantizer is the recall/cost dial.

    The cap is never silent: an Observation counts capped cells and the
    largest cell (read via `last_semantic_dedup_metrics()` after an
    action) — same telemetry contract as minhash_lsh_neardups."""
    from pyspark.sql import Observation

    from ai_service_ocr_grading_handler_spark.operators import dedup as _dd

    # widen before the 16x64 quantizer fold (single-split scan otherwise);
    # `dots` is bound once via the array()/lambda hoist — the previous
    # two-Project form collapsed and evaluated the K-dot fold twice per row
    # (once under array_position, once under array_max)
    cell_expr = (
        f"element_at(transform(array({ivf_dots_expr('embedding')}),"
        f" dots -> cast(array_position(dots, array_max(dots)) as int)), 1)"
    )
    cells = widen_if_narrow(df, by=F.col("vec_id")).select(
        "vec_id", "embedding", F.expr(cell_expr).alias("cell")
    )
    # cells feeds BOTH the dropped-id derivation and the survivor
    # anti-join; without a materialization the 16x64 quantizer fold runs
    # once per consumer (verified in the executed plan — the round-2
    # ReusedExchange lesson). Persist through the shared bounded window.
    cells = persist_bounded(cells)
    pairs = _dd.in_bucket_pairs_expr("vs")
    obs = Observation()
    register("semantic_dedup", obs)
    dropped = (
        cells.groupBy("cell")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("vec_id"), F.col("embedding")))
            ).alias("full_vs")
        )
        .observe(
            obs,
            F.sum((F.size("full_vs") > max_cell).cast("long")).alias(
                "capped_cells"
            ),
            F.max(F.size("full_vs")).alias("max_cell_size"),
            F.count(F.lit(1)).alias("n_cells"),
        )
        .select(F.slice("full_vs", 1, max_cell).alias("vs"))
        .filter(F.size("vs") > 1)
        .select(F.explode(F.expr(pairs)).alias("p"))
        .filter(
            cosine(F.col("p.a.embedding"), F.col("p.b.embedding")) > threshold
        )
        .select(F.col("p.b.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        cells.join(dropped, "vec_id", "left_anti")
        .select("vec_id", "cell")
    )
