"""Learned quality classifier: distributed logistic regression over
hashed TF features (the fastText-style linear filter used to score
web documents against a high-quality reference corpus — the
supervision pattern of GPT-3/CCNet-style quality filtering, publicly
described in Brown et al. 2020 §A and Wenzek et al. 2020).

Training-data-pipeline face (SURVEY §7.8 additive surface): label docs
(e.g. "looks like the curated target source" = 1, "raw web" = 0),
train a linear model on hashed term-frequency buckets, then score and
threshold the full corpus.  A linear model over ``dim`` buckets is
exactly what scales: the model is ``dim+1`` doubles (driver-side, like
k-means centroids), every training round is ONE shuffle, and scoring
is a broadcast join + per-doc fold.

Determinism contract (the house pattern for iterative float algorithms
— same as ``similarity.kmeans_refine``):

- per-document margins are BUCKET-ORDERED folds over collected arrays
  (never a double SUM aggregate) — partitioning-invariant;
- gradient accumulation over documents uses EXACT fixed-point
  arithmetic: ``SUM(floor(round(residual, 12) · x · 1e9))`` in longs —
  the integer SUM is order-free, and the ``round(…, 12)`` absorbs the
  last-ulp differences between libm ``exp`` implementations so every
  engine floors the same value;
- weight updates happen driver-side from ``dim+1`` collected longs
  (the k·dim-scalars footprint), which also cuts lineage per round.

The DuckDB oracle unrolls the same rounds in SQL and hash-matches the
final weights — the iterative algorithm is value-checked, not
rows-only.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCALE = 10**9


def lr_train(
    features: DataFrame,
    labels: DataFrame,
    dim: int,
    iters: int = 2,
    lr: float = 0.5,
    id_col: str = "doc_id",
) -> list:
    """Full-batch logistic regression on sparse hashed-TF rows.

    ``features``: (id, bucket, x) sparse rows (``corpus.
    tf_hash_features`` output shape); ``labels``: (id, y) with y in
    {0, 1}.  Returns ``[w_0 … w_{dim-1}, bias]`` after ``iters``
    gradient steps from w=0 (so round 1 needs no margins: p=0.5).

    Plan per round: broadcast the ``dim``-row weight table into the
    feature join, ONE groupBy(id) margin fold, ONE map-side-combined
    groupBy(bucket) integer gradient sum (plus a 1-row bias sum), and
    a ``dim+1``-long collect.  No global sorts, no driver loops over
    rows; cost per round ≈ 2 shuffles bounded by (docs·min(dim,len))
    rows regardless of corpus size.
    """
    if iters < 1:
        raise ValueError(f"lr_train: iters must be >= 1, got {iters}")
    spark = features.sparkSession
    # every round runs actions over the feature table; without a
    # persist each action re-runs the upstream tokenize+hash scan
    # (measured 2× on the gate queries).  Features are orders smaller
    # than the raw text, so caching them is the 100 TB play too.
    features = features.persist()
    # n (the label count) is derived from round 1's gradient collect —
    # the synthetic bias bucket −1 carries exactly one row per label,
    # so its row count IS n and the standalone count job is saved
    # (r15, guide §1.3 fewer actions).  Round 1 never needs n (w=0 ⇒
    # p=0.5), and the weight update below runs after the collect.
    n: Optional[int] = None
    w = [0.0] * dim
    bias = 0.0
    fscale = float(_SCALE)
    for it in range(iters):
        if it == 0 and bias == 0.0:
            # w=0 ⇒ sigmoid(0)=0.5 exactly: skip the margin pass
            resid = labels.select(
                F.col(id_col), (F.lit(0.5) - F.col("y").cast("double")).alias("_r")
            )
        else:
            wdf = spark.createDataFrame(
                [(b, w[b]) for b in range(dim)], "bucket int, _w double"
            )
            folded = (
                features.join(F.broadcast(wdf), "bucket")
                .groupBy(id_col)
                .agg(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("bucket"),
                                (F.col("x").cast("double") * F.col("_w")).alias("_v"),
                            )
                        )
                    ).alias("_vs")
                )
                .select(
                    F.col(id_col),
                    F.aggregate(
                        F.col("_vs"), F.lit(0.0), lambda acc, s: acc + s["_v"]
                    ).alias("_m"),
                )
            )
            margin = F.coalesce(F.col("_m"), F.lit(0.0)) + F.lit(bias)
            prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
            resid = labels.join(folded, id_col, "left").select(
                F.col(id_col),
                # round(12): absorbs libm exp() last-ulp differences so
                # the fixed-point floor below is engine-identical
                F.round(prob - F.col("y").cast("double"), 12).alias("_r"),
            )
        # one action per round: the bias gradient rides along as a
        # synthetic bucket −1 with x=1 (floor(r·1·s) ≡ floor(r·s)),
        # so the feature and bias sums share a single aggregation.  The
        # bias rows are the label rows themselves, unioned AFTER the
        # feature join: an id labelled k times adds k bias rows, not k².
        feature_rows = features.join(resid, id_col).select(
            "bucket", F.col("x").cast("double").alias("_x"), "_r"
        )
        gint = (
            feature_rows.unionByName(
                resid.select(F.lit(-1).alias("bucket"), F.lit(1.0).alias("_x"), "_r")
            )
            .groupBy("bucket")
            .agg(
                F.sum(
                    F.floor(F.col("_r") * F.col("_x") * F.lit(fscale)).cast("long")
                ).alias("_g"),
                F.count(F.lit(1)).alias("_c"),
            )
            .collect()
        )
        grads = {r["bucket"]: r["_g"] for r in gint}
        if n is None:
            n = int(
                next((r["_c"] for r in gint if r["bucket"] == -1), 0)
            )
            if n == 0:
                features.unpersist()
                raise ValueError("lr_train: empty label set")
        for b in range(dim):
            w[b] = w[b] - lr * (grads.get(b, 0) / (float(n) * fscale))
        bias = bias - lr * (grads.get(-1, 0) / (float(n) * fscale))
    features.unpersist()
    return w + [bias]


def lr_score(
    features: DataFrame,
    weights: Sequence[float],
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, score): sigmoid(w·x + bias) for every doc in ``docs`` —
    docs without features score sigmoid(bias).  Broadcast weight
    join + bucket-ordered fold (engine-reproducible), one shuffle."""
    spark = features.sparkSession
    dim = len(weights) - 1
    bias = float(weights[-1])
    wdf = spark.createDataFrame(
        [(b, float(weights[b])) for b in range(dim)], "bucket int, _w double"
    )
    folded = (
        features.join(F.broadcast(wdf), "bucket")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("bucket"),
                        (F.col("x").cast("double") * F.col("_w")).alias("_v"),
                    )
                )
            ).alias("_vs")
        )
        .select(
            F.col(id_col),
            F.aggregate(F.col("_vs"), F.lit(0.0), lambda acc, s: acc + s["_v"]).alias(
                "_m"
            ),
        )
    )
    margin = F.coalesce(F.col("_m"), F.lit(0.0)) + F.lit(bias)
    return docs.select(id_col).join(folded, id_col, "left").select(
        F.col(id_col), (F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))).alias("score")
    )


def lr_oracle_sql(
    feature_cte: str,
    label_cte: str,
    dim: int,
    iters: int = 2,
    lr: float = 0.5,
) -> str:
    """DuckDB mirror: unrolls ``iters`` gradient rounds as chained
    CTEs over ``feature_cte`` → (doc_id, bucket, x) and ``label_cte``
    → (doc_id, y), returning the final (bucket, w) table with the bias
    at bucket = dim.  Integer gradient SUMs are order-free; margins
    use ``list_sum(list(… ORDER BY bucket))`` — identical arithmetic
    to ``lr_train``."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    s = _SCALE
    parts = [
        f"WITH f AS ({feature_cte}), lab AS ({label_cte}),",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM lab),",
        # round 1 from w=0: residual is exactly 0.5 - y
        "r1 AS (SELECT doc_id, 0.5 - CAST(y AS DOUBLE) AS r FROM lab),",
        f"""g1 AS (
  SELECT bucket, SUM(CAST(floor(r.r * CAST(x AS DOUBLE) * {s}.0) AS BIGINT)) AS g
  FROM f JOIN r1 r USING (doc_id) GROUP BY bucket
),""",
        f"""b1 AS (SELECT SUM(CAST(floor(r * {s}.0) AS BIGINT)) AS g FROM r1),""",
        # bucket spine: a bucket that never occurs in f must still carry
        # weight 0 (the Spark model vector is dense over 0..dim-1)
        f"""sp AS (SELECT CAST(x AS BIGINT) AS bucket FROM range({dim}) t(x)),""",
        f"""w1 AS (
  SELECT sp.bucket, -({lr}) * (CAST(COALESCE(g1.g, 0) AS DOUBLE) / (nn.n * {s}.0)) AS w
  FROM sp LEFT JOIN g1 USING (bucket), nn
),""",
        f"""wb1 AS (SELECT -({lr}) * (CAST(b1.g AS DOUBLE) / (nn.n * {s}.0)) AS b FROM b1, nn)""",
    ]
    prev_w, prev_b = "w1", "wb1"
    for it in range(2, iters + 1):
        parts.append(
            f""", m{it} AS (
  SELECT f.doc_id, list_sum(list(CAST(f.x AS DOUBLE) * w.w ORDER BY f.bucket)) AS m
  FROM f JOIN {prev_w} w USING (bucket) GROUP BY f.doc_id
), r{it} AS (
  SELECT lab.doc_id,
         round(1.0 / (1.0 + exp(-(COALESCE(m{it}.m, 0.0) + {prev_b}.b)))
               - CAST(lab.y AS DOUBLE), 12) AS r
  FROM lab LEFT JOIN m{it} USING (doc_id), {prev_b}
), g{it} AS (
  SELECT bucket, SUM(CAST(floor(r.r * CAST(x AS DOUBLE) * {s}.0) AS BIGINT)) AS g
  FROM f JOIN r{it} r USING (doc_id) GROUP BY bucket
), b{it} AS (SELECT SUM(CAST(floor(r * {s}.0) AS BIGINT)) AS g FROM r{it}),
w{it} AS (
  SELECT w.bucket, w.w - ({lr}) * (CAST(COALESCE(g{it}.g, 0) AS DOUBLE) / (nn.n * {s}.0)) AS w
  FROM {prev_w} w LEFT JOIN g{it} USING (bucket), nn
), wb{it} AS (
  SELECT {prev_b}.b - ({lr}) * (CAST(b{it}.g AS DOUBLE) / (nn.n * {s}.0)) AS b
  FROM {prev_b}, b{it}, nn
)"""
        )
        prev_w, prev_b = f"w{it}", f"wb{it}"
    parts.append(
        # + 0.0 folds IEEE −0.0 (from −lr · zero-gradient) to +0.0 so
        # the render matches Spark's plain 0.0
        f"""
SELECT CAST(bucket AS INT) AS bucket, round(w, 6) + 0.0 AS w FROM {prev_w}
UNION ALL
SELECT {dim} AS bucket, round(b, 6) + 0.0 AS w FROM {prev_b}
ORDER BY bucket"""
    )
    return "\n".join(parts)


def lr_score_expr(weights: Sequence[float], text_col: str = "text") -> "F.Column":
    """Per-ROW scoring column — the stateless (streaming-safe) face of
    ``lr_score``: weights inline as a literal array and the margin is
    a token-ordered fold ``bias + Σ_t w[bucket(t)]`` (equal in value
    to Σ_b tf_b·w_b; summation order differs from ``lr_score``'s
    bucket-ordered fold, so expect ≈1e-12 relative float skew between
    the two faces — each face is individually deterministic).

    No groupBy, no join, no state: usable directly in a Structured
    Streaming projection as a live quality filter
    (``stream.withColumn("q", lr_score_expr(w)).filter("q > 0.5")``).
    """
    from csp_gateway_spark.operators.dedup import _md5_base
    from csp_gateway_spark.operators.text import norm_tokens, normalize_text, tokens

    dim = len(weights) - 1
    bias = float(weights[-1])
    warr = F.lit([float(w) for w in weights[:dim]]).cast("array<double>")
    toks = norm_tokens(F.col(text_col))
    contrib = F.transform(
        toks, lambda t: F.element_at(warr, (_md5_base(t) % F.lit(dim)).cast("int") + F.lit(1))
    )
    margin = F.lit(bias) + F.aggregate(
        contrib, F.lit(0.0), lambda acc, x: acc + x
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))


def calibration_bins(
    scores: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    label_col: str = "y",
    bins: int = 10,
) -> DataFrame:
    """Calibration report for a probabilistic classifier: bucket
    predicted scores into fixed-width bins over [0, 1] and compare the
    bin's empirical positive rate to its score range — the reliability
    diagram behind "is this quality filter's 0.9 actually a 90 %?".

    Fixed bins (not ntile) on purpose: quantile binning needs a global
    sort/rank; fixed-width binning is a scan-local projection that
    scales to any corpus.  One co-partitioned join on ``id_col`` + one
    small groupBy; positive rate is a single division of exact integer
    counts, so the report is engine-exact."""
    b = F.least(
        F.lit(bins - 1), F.floor(F.col(score_col) * F.lit(float(bins)))
    ).cast("int")
    joined = scores.join(labels, id_col)
    return (
        joined.withColumn("bin", b)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(label_col).cast("long")).alias("n_pos"),
        )
        .withColumn(
            "pos_rate", F.col("n_pos").cast("double") / F.col("n").cast("double")
        )
    )


def pr_curve(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: DataFrame,
) -> DataFrame:
    """Precision/recall sweep for a scored corpus — the
    quality-classifier threshold-picking report.

    Scores bucket to 3dp DECIMAL first, so the (≤1001-bucket ×
    2-label) count table is category-bounded and every threshold
    comparison is exact; the per-threshold sums are a bounded
    broadcast range-join over that count table, never a rescan of the
    corpus.  ``thresholds``: a 1-column ``t decimal(7,3)`` frame.
    Every requested threshold appears in the output — one with no
    score bucket at/above it emits tp=0/fp=0/recall=0 with a NULL
    (undefined 0/0) precision, via a LEFT range-join.
    Output per threshold: (t, tp, fp, fn, precision, recall)."""
    from pyspark.sql import functions as F

    b = F.round(F.col(score_col), 3).cast("decimal(7,3)")
    y = F.col(label_col).cast("int")
    counts = scored.select(b.alias("_b"), y.alias("_y")).groupBy(
        "_b", "_y"
    ).agg(F.count(F.lit(1)).alias("_n"))
    pos = counts.agg(
        F.sum(F.when(F.col("_y") == 1, F.col("_n")).otherwise(0)).alias("_pos")
    )
    per = (
        thresholds.join(F.broadcast(counts), F.col("_b") >= F.col("t"), "left")
        .groupBy("t")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("_y") == 1, F.col("_n")).otherwise(0)),
                F.lit(0),
            ).alias("tp"),
            F.coalesce(
                F.sum(F.when(F.col("_y") == 0, F.col("_n")).otherwise(0)),
                F.lit(0),
            ).alias("fp"),
        )
    )
    return per.crossJoin(F.broadcast(pos)).select(
        F.col("t").cast("double").alias("t"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        (F.col("_pos") - F.col("tp")).cast("long").alias("fn"),
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fp")).cast("double"),
        ).alias("precision"),
        (F.col("tp").cast("double") / F.col("_pos").cast("double")).alias(
            "recall"
        ),
    )
