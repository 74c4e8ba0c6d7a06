"""Deterministic sampling, splitting, and source mixing — the last step of
training-data prep (Pile/Dolma-style mixture weights) plus reproducible
train/val/test splits.

Everything derives from a content-id hash fraction, NOT rand(): a
re-run, a resumed run, or a differently-partitioned run samples the
exact same documents (rand() is per-task and non-reproducible across
retries — a silent eval-contamination hazard when a split is re-rolled).
The fraction is md5-derived, identical in Spark and DuckDB, so every
assignment is value-oracle-checkable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ai_service_ocr_grading_handler_spark.core.telemetry import persist_bounded

_FRAC_DENOM = 1 << 31

# uniform [0, 1) fraction from the id: first 31 bits of md5 / 2^31 —
# same salt trick as the dedup tiers; a `salt` makes independent draws
_FRAC_SPARK = (
    "pmod(cast(conv(substring(md5(concat(cast({id} as string), '|', '{salt}')),"
    " 1, 15), 16, 10) as bigint), 2147483648) / 2147483648.0D"  # D: double
    # division, not DECIMAL — a bare 2147483648.0 literal parses as
    # DECIMAL(11,1) and decimal division rounds at ~12 digits, silently
    # diverging from the DuckDB oracle's float64 draw
)
_FRAC_DUCK = (
    "((('0x' || substr(md5({id}::varchar || '|' || '{salt}'), 1, 15))::bigint"
    " % 2147483648) / 2147483648.0)"
)


def hash_frac(id_col: str = "doc_id", salt: str = "split") -> Column:
    """Deterministic uniform [0,1) draw per id (scan-speed, zero shuffle)."""
    return F.expr(_FRAC_SPARK.format(id=id_col, salt=salt))


def hash_frac_duck(id_col: str = "doc_id", salt: str = "split") -> str:
    return _FRAC_DUCK.format(id=id_col, salt=salt)


def deterministic_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Adds a `split` column ('train'/'val'/... by cumulative weight
    thresholds over the hash fraction). Weights must sum to 1. A document's
    split never changes across runs, partitionings, or corpus growth —
    adding documents later cannot move an old document between splits
    (the eval-contamination guarantee rand()-based splits lack)."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    frac = hash_frac(id_col, salt)
    expr: Column | None = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w
        cond = frac < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn("split", expr)


def cluster_aware_split(
    df: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """deterministic_split with the eval-leak guarantee near-dups break:
    every member of a near-dup cluster (connected component of `pairs`,
    e.g. MinHash output) draws its split from the CLUSTER representative's
    id, so a train doc can never have a near-copy in val/test (the
    leakage Lee et al. arXiv:2107.06499 measure in deduplicated-vs-not
    LMs). Unpaired docs draw from their own id — identical to
    deterministic_split. One left join of the corpus against the label
    frame (the duplicate mass only); the draw stays scan-speed."""
    from ai_service_ocr_grading_handler_spark.operators.dedup import (
        connected_components,
    )

    labels = connected_components(pairs).select(
        F.col("id").alias(id_col), F.col("comp").alias("_split_key")
    )
    keyed = df.join(labels, id_col, "left").withColumn(
        "_split_key", F.coalesce("_split_key", F.col(id_col))
    )
    return deterministic_split(keyed, weights, id_col="_split_key", salt=salt).drop(
        "_split_key"
    )


def mix_sources(
    df: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Pile/Dolma-style mixture weighting: per-source sampling rate, where
    rate < 1 downsamples and rate > 1 upsamples (floor(rate) full copies
    plus one more when the hash draw falls under the fractional part).
    Output carries `copy` (0-based) so downstream shuffling can spread the
    repeats. Sources absent from `rates` default to 1.0.

    Plan: n_copies is a per-row expression; copies materialize through ONE
    posexplode — no join, no shuffle; the corpus streams through."""
    frac = hash_frac(id_col, salt)
    rate: Column = F.lit(1.0)
    for src, r in rates.items():
        rate = F.when(F.col(source_col) == src, F.lit(float(r))).otherwise(rate)
    n_copies = (
        F.floor(rate) + (frac < (rate - F.floor(rate))).cast("long")
    ).alias("n_copies")
    with_n = df.withColumn("n_copies", n_copies).filter(F.col("n_copies") > 0)
    return (
        with_n.select(
            "*", F.posexplode(F.expr("sequence(1, n_copies)")).alias("copy", "_one")
        )
        .drop("n_copies", "_one")
    )


def mix_sources_duck_n_copies(
    rates: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> str:
    """DuckDB expression for the per-row copy count (oracle twin)."""
    frac = hash_frac_duck(id_col, salt)
    expr = "1.0"
    for src, r in rates.items():
        expr = f"CASE WHEN {source_col} = '{src}' THEN {float(r)} ELSE {expr} END"
    return (
        f"(floor({expr}) + CASE WHEN {frac} < ({expr} - floor({expr}))"
        f" THEN 1 ELSE 0 END)::bigint"
    )


# --- DSIR importance resampling ---------------------------------------------------
# Data Selection via Importance Resampling (Xie et al., arXiv:2302.03169):
# fit bag-of-hashed-ngram multinomials over a TARGET (trusted) corpus and
# the RAW pool, weight every raw doc by its target/raw log-likelihood
# ratio, and resample without replacement via the Gumbel-top-k trick.
# This is the third leg of the public data-selection toolbox next to the
# Gopher heuristic gates (textquality.quality_score) and the CCNet LM
# buckets (textquality.perplexity_buckets).
#
# Determinism: the paper's Gumbel noise comes from an RNG; here it is
# derived from the doc-id hash fraction (same md5 draw as every sampler in
# this module), so selection is reproducible across runs/partitionings and
# value-oracle-checkable in DuckDB.
#
# 100 TB shape: features are hashed into `buckets` ids (paper: 10k), so
# BOTH distribution fits are map-side-combined groupBys producing at most
# `buckets` rows; the weight table is broadcast (hash join) to the doc
# features; the per-doc reduce is one sum; the final top-k is a
# TakeOrdered (per-partition heap + driver merge of k rows), never a
# global sort. The scalar totals ride 1-row broadcast crossJoins
# (allow-listed in the plan lint like perplexity_buckets' cutoffs).

_DSIR_GRAMS = (1, 2)  # unigrams + bigrams, the paper's feature set


def _bucket_expr_spark(n: int, buckets: int) -> str:
    """Hashed word-n-gram bucket ids over array column `ws` — counts kept
    (NOT distinct: DSIR multinomials need multiplicities, unlike the
    decontamination tier's set semantics)."""
    return (
        "CASE WHEN size(ws) < {n} THEN cast(array() as array<bigint>)"
        " ELSE transform(sequence(1, size(ws) - {n} + 1),"
        " i -> pmod(cast(conv(substring(md5(concat_ws(' ', slice(ws, i, {n}))),"
        " 1, 15), 16, 10) as bigint), {b})) END"
    ).format(n=n, b=buckets)


def _bucket_expr_duck(n: int, buckets: int) -> str:
    gram = f"array_to_string(list_slice(ws, i, i + {n} - 1), ' ')"
    return (
        f"CASE WHEN len(ws) < {n} THEN []::BIGINT[]"
        f" ELSE list_transform(range(1, len(ws) - {n} + 2),"
        f" i -> (('0x' || substr(md5({gram}), 1, 15))::bigint % {buckets})) END"
    )


def _features(df: DataFrame, id_cols: list[str], text_col: str, buckets: int) -> DataFrame:
    """(id_cols..., bucket) with one row per n-gram OCCURRENCE. Empty
    tokens are filtered out FIRST: split('', ' ') is [''] in both
    engines, so without the filter an empty/space-padded doc would mint
    md5('') features and a single-feature doc's near-zero summed
    log-ratio would systematically OUT-RANK real in-domain docs (review
    finding, verified by execution)."""
    feats = " || ".join(
        "(" + _bucket_expr_spark(n, buckets) + ")" for n in _DSIR_GRAMS
    )
    ws = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    return (
        df.select(*id_cols, ws.alias("ws"))
        .select(*id_cols, F.explode(F.expr(feats)).alias("bucket"))
    )


def _logratio_table(
    docb: DataFrame,
    tgt_f: DataFrame,
    buckets: int,
    alpha: float,
    empty_msg: str,
) -> DataFrame:
    """Per-bucket log( p_target / p_raw ) under add-alpha smoothing — the
    shared fit of DSIR's importance weights and the NB quality
    classifier (they are the same multinomial likelihood ratio; Xie et
    al. arXiv:2302.03169 §3 makes the equivalence explicit). `docb` is
    the pre-aggregated (id, bucket, n_occ) corpus frame; `tgt_f` the
    per-occurrence target feature stream. Output is ≤ `buckets` rows —
    always broadcastable. An empty target fails fast at execution
    (assert_true) instead of silently producing NULL weights."""
    c_r = docb.groupBy("bucket").agg(F.sum("n_occ").alias("c_r"))
    c_t = tgt_f.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_t"))
    n_r = c_r.agg(F.sum("c_r").cast("double").alias("n_r"))
    n_t = c_t.agg(F.sum("c_t").cast("double").alias("n_t_raw")).select(
        F.when(
            F.assert_true(
                F.col("n_t_raw").isNotNull(), F.lit(empty_msg)
            ).isNull(),
            F.col("n_t_raw"),
        ).alias("n_t")
    )
    return (
        c_r.join(c_t, "bucket", "left")
        .crossJoin(F.broadcast(n_r))
        .crossJoin(F.broadcast(n_t))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("c_t"), F.lit(0)) + F.lit(alpha))
                    / (F.col("n_t") + F.lit(alpha * buckets))
                )
                - F.log(
                    (F.col("c_r") + F.lit(alpha))
                    / (F.col("n_r") + F.lit(alpha * buckets))
                )
            ).alias("logratio"),
        )
    )


def dsir_select(
    corpus: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
    alpha: float = 1.0,
    salt: str = "dsir",
) -> DataFrame:
    """Top-k raw docs under log-weight + deterministic Gumbel noise.

    Output: (id, log_weight, gumbel_key) for the k selected docs. Docs
    with no non-empty tokens never enter the feature frame and cannot be
    selected. The corpus is tokenized+hashed ONCE: features are
    pre-aggregated to per-(doc, bucket) occurrence counts, persisted
    (tracked eviction window), and both the raw-distribution fit and the
    weight join read that frame — at 100 TB the dominant cost is that
    single pass, not two. An EMPTY target slice fails fast at execution
    (assert_true) instead of silently producing NULL weights and an
    arbitrary, engine-divergent selection. Keys are rounded to 6dp
    BEFORE the top-k with a doc-id tie-break (the module's
    round-before-compare discipline) so the Spark selection and the
    DuckDB oracle cannot diverge on a last-ulp near-tie at rank k.

    Measured (round 4, sf0.1, local[32], min-of-3): 1.85 s to fit both
    multinomials over 5k docs x 4096 buckets and select k=100.
    """
    docb = persist_bounded(
        _features(corpus, [id_col], text_col, buckets)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    ratio = _logratio_table(
        docb, _features(target, [], text_col, buckets), buckets, alpha,
        "dsir: empty target slice",
    )
    logw = (
        docb.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(F.round(F.sum(F.col("logratio") * F.col("n_occ")), 6).alias("log_weight"))
    )
    # Gumbel-top-k: g = -ln(-ln(u)), u the deterministic md5 draw (clamped
    # away from 0 identically in both engines)
    u = F.greatest(hash_frac(id_col, salt), F.lit(1e-12))
    keyed = logw.withColumn(
        "gumbel_key", F.round(F.col("log_weight") - F.log(-F.log(u)), 6)
    )
    return keyed.orderBy(F.desc("gumbel_key"), id_col).limit(k)


def dsir_select_duck(
    corpus_sql: str,
    target_sql: str,
    k: int,
    buckets: int = 4096,
    alpha: float = 1.0,
    salt: str = "dsir",
) -> str:
    """DuckDB twin of dsir_select (same hashes, smoothing, Gumbel draw)."""
    feats = " || ".join(
        "(" + _bucket_expr_duck(n, buckets) + ")" for n in _DSIR_GRAMS
    )
    u = f"greatest({hash_frac_duck('doc_id', salt)}, 1e-12)"
    return f"""
    WITH corpus AS ({corpus_sql}),
    tgt AS ({target_sql}),
    raw_f AS (
      SELECT doc_id, unnest({feats}) AS bucket
      FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
            FROM corpus)),
    docb AS (SELECT doc_id, bucket, count(*) AS n_occ FROM raw_f GROUP BY 1, 2),
    tgt_f AS (
      SELECT unnest({feats}) AS bucket
      FROM (SELECT list_filter(string_split(text, ' '), x -> x != '') AS ws
            FROM tgt)),
    c_r AS (SELECT bucket, sum(n_occ) AS c_r FROM docb GROUP BY 1),
    c_t AS (SELECT bucket, count(*) AS c_t FROM tgt_f GROUP BY 1),
    n_r AS (SELECT sum(c_r)::double AS n_r FROM c_r),
    n_t AS (SELECT CASE WHEN sum(c_t) IS NULL THEN error('dsir: empty target slice')
                        ELSE sum(c_t)::double END AS n_t FROM c_t),
    ratio AS (
      SELECT bucket,
             ln((coalesce(c_t, 0) + {alpha}) / (n_t + {alpha * buckets}))
             - ln((c_r + {alpha}) / (n_r + {alpha * buckets})) AS logratio
      FROM c_r LEFT JOIN c_t USING (bucket) CROSS JOIN n_r CROSS JOIN n_t),
    logw AS (
      SELECT doc_id, round(sum(logratio * n_occ), 6) AS log_weight
      FROM docb JOIN ratio USING (bucket) GROUP BY 1),
    keyed AS (
      SELECT doc_id, log_weight,
             round(log_weight - ln(-ln({u})), 6) AS gumbel_key
      FROM logw)
    SELECT doc_id, log_weight, gumbel_key
    FROM keyed ORDER BY gumbel_key DESC, doc_id LIMIT {k}
    """


def quality_classifier(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
    alpha: float = 1.0,
    pareto_shape: float = 9.0,
    salt: str = "quality",
) -> DataFrame:
    """GPT-3-style quality-classifier filtering (Brown et al. 2020,
    Appendix A; the same reference-vs-corpus filter LLaMA re-used): score
    each corpus document by how reference-like its text is, then keep a
    quality-skewed sample via the published Pareto rule
    `keep iff score > 1 - pareto(shape)` — which keeps most high-scoring
    docs but still lets some low-scoring ones through (their documented
    diversity argument). GPT-3 trained a logistic classifier; here the
    score is the hashed-multinomial Naive-Bayes posterior over the same
    features DSIR fits — deterministic (no LBFGS float races), fully
    aggregation-shaped, and value-checkable cross-engine:

      quality_logit — per-TOKEN mean of the bucket log-likelihood ratios
                      (length-normalized so long docs don't saturate)
      quality_score — sigmoid of the CORPUS-STANDARDIZED logit
                      ((logit - mean) / stddev via a 1-row broadcast, the
                      CCNet-cutoff pattern). Raw smoothed NB logits sit
                      wherever the add-alpha mass puts them; a trained
                      classifier is calibrated. Standardizing makes the
                      average corpus doc score 0.5 and clearly
                      reference-like docs approach 1 — which is what the
                      Pareto rule below needs to reproduce GPT-3's
                      acceptance shape (P[keep] = (2 - score)^-shape)
      keep          — score > 1 - draw, draw = u^(-1/shape) - 1 the
                      inverse-CDF Pareto sample of a deterministic md5
                      uniform (same discipline as the Gumbel in
                      dsir_select); both sides rounded to 6dp first

    Docs with no non-empty tokens have no evidence and no row (same
    contract as dsir_select). Scale shape: ONE corpus feature pass
    (shared `_features`), two tiny count tables, a broadcast ratio join
    (≤ `buckets` rows), one per-doc aggregate — no corpus shuffle beyond
    the per-(doc,bucket) combine."""
    docb = persist_bounded(
        _features(corpus, [id_col], text_col, buckets)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    ratio = _logratio_table(
        docb, _features(reference, [], text_col, buckets), buckets, alpha,
        "quality_classifier: empty reference slice",
    )
    per_doc = (
        docb.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(F.col("logratio") * F.col("n_occ")) / F.sum("n_occ"), 6
            ).alias("quality_logit")
        )
    )
    stats = per_doc.agg(
        F.avg("quality_logit").alias("mu"),
        F.stddev_pop("quality_logit").alias("sigma"),
    )
    z = F.round(
        F.when(
            F.col("sigma") > 1e-9,
            (F.col("quality_logit") - F.col("mu")) / F.col("sigma"),
        ).otherwise(F.lit(0.0)),
        6,
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    u = F.greatest(hash_frac(id_col, salt), F.lit(1e-12))
    threshold = F.round(
        F.lit(1.0) - (F.pow(u, F.lit(-1.0 / pareto_shape)) - F.lit(1.0)), 6
    )
    return per_doc.crossJoin(F.broadcast(stats)).select(
        id_col,
        "quality_logit",
        score.alias("quality_score"),
        (score > threshold).alias("keep"),
    )


def quality_classifier_duck(
    corpus_sql: str,
    reference_sql: str,
    buckets: int = 4096,
    alpha: float = 1.0,
    pareto_shape: float = 9.0,
    salt: str = "quality",
) -> str:
    """DuckDB twin of quality_classifier (same hashes, smoothing,
    sigmoid, Pareto draw and 6dp round-before-compare)."""
    feats = " || ".join(
        "(" + _bucket_expr_duck(n, buckets) + ")" for n in _DSIR_GRAMS
    )
    u = f"greatest({hash_frac_duck('doc_id', salt)}, 1e-12)"
    exponent = repr(-1.0 / pareto_shape)
    return f"""
    WITH corpus AS ({corpus_sql}),
    ref AS ({reference_sql}),
    raw_f AS (
      SELECT doc_id, unnest({feats}) AS bucket
      FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
            FROM corpus)),
    docb AS (SELECT doc_id, bucket, count(*) AS n_occ FROM raw_f GROUP BY 1, 2),
    ref_f AS (
      SELECT unnest({feats}) AS bucket
      FROM (SELECT list_filter(string_split(text, ' '), x -> x != '') AS ws
            FROM ref)),
    c_r AS (SELECT bucket, sum(n_occ) AS c_r FROM docb GROUP BY 1),
    c_t AS (SELECT bucket, count(*) AS c_t FROM ref_f GROUP BY 1),
    n_r AS (SELECT sum(c_r)::double AS n_r FROM c_r),
    n_t AS (SELECT CASE WHEN sum(c_t) IS NULL
                        THEN error('quality_classifier: empty reference slice')
                        ELSE sum(c_t)::double END AS n_t FROM c_t),
    ratio AS (
      SELECT bucket,
             ln((coalesce(c_t, 0) + {alpha}) / (n_t + {alpha * buckets}))
             - ln((c_r + {alpha}) / (n_r + {alpha * buckets})) AS logratio
      FROM c_r LEFT JOIN c_t USING (bucket) CROSS JOIN n_r CROSS JOIN n_t),
    per_doc AS (
      SELECT doc_id,
             round(sum(logratio * n_occ) / sum(n_occ), 6) AS quality_logit
      FROM docb JOIN ratio USING (bucket) GROUP BY 1),
    stats AS (
      SELECT avg(quality_logit) AS mu, stddev_pop(quality_logit) AS sigma
      FROM per_doc),
    scored AS (
      SELECT doc_id, quality_logit,
             round(1.0 / (1.0 + exp(-(round(CASE WHEN sigma > 1e-9
                     THEN (quality_logit - mu) / sigma ELSE 0.0 END, 6)))), 6)
               AS quality_score
      FROM per_doc CROSS JOIN stats)
    SELECT doc_id, quality_logit, quality_score,
           quality_score > round(1.0 - (pow({u}, {exponent}) - 1.0), 6) AS keep
    FROM scored
    """
