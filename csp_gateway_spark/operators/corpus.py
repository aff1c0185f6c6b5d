"""Corpus-level operators: vocabulary, TF-IDF, duplicate clustering.

Training-data pipeline additions (SURVEY §7.8 additive surface):
- ``vocab_topk``: global token frequencies (vocabulary bootstrap) —
  explode + two-level aggregation, fully map-side-combined.
- ``tf_idf``: per-(doc, token) weights via one token aggregation and a
  window over document frequency — two shuffles total.
- ``connected_components``: dedup *clustering* — turns near-dup PAIRS
  into groups labelled by their min id.  The path follows the size of
  the symmetric edge list: at most ``DRIVER_EDGES`` (100,000) rows are
  collected and joined by union-find on the driver; above that,
  iterative min-label propagation with pointer jumping (undirected
  edges, propagate the min component id until fixpoint) converges in
  O(log diameter) rounds of shuffle joins, so 100 TB-scale graphs stay
  shuffle-bound.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csp_gateway_spark.operators.text import norm_tokens, normalize_text, tokens


def token_rows(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    toks = norm_tokens(F.col(text_col))
    return df.select(F.col(id_col), F.explode(toks).alias("token"))


def vocab_topk(
    df: DataFrame,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    counts: "Optional[DataFrame]" = None,
) -> DataFrame:
    """Top-k tokens by total count (ties broken alphabetically).
    ``counts``: optional pre-built (token, n) count table with the
    exact values the groupBy below would produce."""
    if counts is None:
        counts = token_rows(df, text_col, id_col).groupBy("token").agg(
            F.count(F.lit(1)).alias("n")
        )
    return counts.orderBy(F.desc("n"), F.asc("token")).limit(k)


def tf_idf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tf: "Optional[DataFrame]" = None,
) -> DataFrame:
    """Smooth TF-IDF: tf = count in doc; idf = ln((N+1)/(df+1)) + 1.
    One shuffle for (doc, token) counts, one for document frequency.
    N is fused into the plan as a 1-row broadcast aggregate (same
    pattern as ``lm_score``) — no separate ``.count()`` action, no
    second scan of the corpus.  ``tf``: optional pre-built (id, token,
    tf) count table with identical values (the retrieval family's
    postings table, reordered)."""
    nd = df.agg((F.count(F.lit(1)) + F.lit(1)).cast("double").alias("_n1"))
    if tf is None:
        tok = token_rows(df, text_col, id_col)
        tf = tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    out = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "tfidf",
            F.col("tf") * (F.log(F.col("_n1") / (F.col("df") + 1)) + 1.0),
        )
    )
    return out.select(id_col, "token", "tf", "df", "tfidf")


# Largest symmetric edge list (rows of (src, dst) after the reverse
# union and distinct) whose components are found on the driver.  At
# exactly this size — 5,000 duplicate chains of 11 shuffled ids, 50,000
# undirected edges — the driver path took 2.1 s and the distributed
# loop 16.1 s (local[4] on 4 vCPUs, median of 3 alternating calls,
# collect of the 55,000 result rows included).
DRIVER_EDGES = 100_000


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) from undirected edges; component = min node id
    reachable.  A null endpoint is its own node with a null component
    and joins nothing.

    The symmetric, distinct edge list is materialized once with
    ``localCheckpoint``; then ``limit(DRIVER_EDGES + 1)`` of it is
    collected (one cheap job).  The algorithm follows the size seen:

    - At most ``DRIVER_EDGES`` rows: union-find on the driver, always
      hanging the larger root under the smaller, so each root is its
      set's minimum id — the fixed point of the distributed loop.  The
      result is an Arrow-built local relation with the distributed
      path's column types.  Float ids always take the distributed
      path: Spark groups every NaN as one value, Python keeps each
      NaN apart.
    - Above it: iterative min-label propagation with POINTER JUMPING,
      each round a node takes the min over (its label, its neighbors'
      labels, its label's label).  The extra label(label) hop halves
      path lengths, so convergence is O(log diameter) rounds, not
      O(diameter).

    Scale notes for the distributed loop: lineage is truncated per
    round with ``localCheckpoint`` (an iterative self-join otherwise
    grows the logical plan exponentially — analysis time, not
    execution, becomes the bottleneck); on a real cluster swap for
    ``checkpoint()`` with a durable checkpoint dir.  Convergence rides
    along as a per-row ``_changed`` flag computed inside the checkpoint
    job; the check is then ``filter(_changed).limit(1)`` over
    checkpointed data — it short-circuits on the first changed
    partition in non-final rounds instead of re-aggregating every
    label.  Each round is two shuffle joins over the edge list, so a
    100 TB graph stays shuffle-bound; only graphs of at most
    ``DRIVER_EDGES`` edge rows ever reach the driver.
    """
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    if not isinstance(labels.schema["node"].dataType, (T.FloatType, T.DoubleType)):
        head = edges.limit(DRIVER_EDGES + 1).collect()
        if len(head) <= DRIVER_EDGES:
            return _driver_components(head, labels)
    labels = labels.localCheckpoint()
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
            .withColumnRenamed("src", "node")
        )
        stepped = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.col("component").alias("_old"),
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_component"), F.col("component")),
            ).alias("component"),
        )
        # pointer jumping: component -> label(component)
        jump = labels.select(
            F.col("node").alias("component"), F.col("component").alias("jump_component")
        )
        labels = (
            stepped.join(jump, "component", "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("jump_component"), F.col("component")),
                ).alias("component"),
                (
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("jump_component"), F.col("component")),
                    )
                    != F.col("_old")
                ).alias("_changed"),
            )
            .localCheckpoint()
        )
        if labels.filter(F.col("_changed")).limit(1).count() == 0:
            break
    return labels.drop("_changed")


def _driver_components(edges: list, labels: DataFrame) -> DataFrame:
    """Union-find over collected (src, dst) rows, min id as root, as a
    local relation with the schema of ``labels``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    nodes = list(parent)
    comps = [None if x is None else find(x) for x in nodes]
    table = pa.table([nodes, comps], schema=to_arrow_schema(labels.schema))
    return labels.sparkSession.createDataFrame(table, labels.schema)


def winnow_fingerprints(
    df: DataFrame,
    k: int = 4,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document fingerprinting by winnowing (Schleimer/Wilkerson/Aiken,
    the MOSS algorithm): hash every k-gram of tokens, slide a window of
    ``window`` consecutive hashes, keep each window's minimum; the
    distinct kept hashes are the document's fingerprints.  Guarantees
    any shared run of ≥ (window + k - 1) tokens between two documents
    shares at least one fingerprint.

    All-native ZERO-SHUFFLE plan: the whole winnow is scan-local —
    k-gram md5s and the sliding window minima are per-doc ARRAY
    expressions (token counts are document-bounded), so no
    doc-partitioned window sort ever shuffles the token stream; the
    only exchanges left in a fingerprint pipeline are whatever the
    consumer does with the (id, fp) rows.  Hashes are md5 strings
    (portable: DuckDB md5 produces identical values, min =
    lexicographic in both engines).  Docs shorter than
    k + window - 1 tokens yield no fingerprints.

    The token and gram arrays are bound as HOF LAMBDA VARIABLES
    (``transform(array(x), v -> ...)[0]``) rather than repeated
    sub-expressions: higher-order functions run interpreted (no
    whole-stage-codegen subexpression elimination), so a ``slice(_g,
    j, w)`` whose ``_g`` is an inlined expression re-evaluates the
    entire md5 gram chain once per window position — quadratic in
    document length.  A lambda variable is evaluated exactly once per
    row (measured 9× on sf0.1: 7.2s → 0.8s for the explode).
    """
    toks = norm_tokens(F.col(text_col))
    empty = F.array().cast("array<string>")

    def _grams(tk):
        return F.when(
            F.size(tk) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(tk) - k),
                lambda i: F.md5(F.array_join(F.slice(tk, i + 1, k), " ")),
            ),
        ).otherwise(empty)

    def _window_mins(g):
        return F.when(
            F.size(g) >= window,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(g) - window),
                    lambda j: F.array_min(F.slice(g, j + 1, window)),
                )
            ),
        ).otherwise(empty)

    fps = F.transform(
        F.array(toks),
        lambda tk: F.transform(F.array(_grams(tk)), _window_mins)[0],
    )[0]
    return df.select(id_col, F.explode(fps).alias("fp"))


def dedup_keep_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop all but the min-id member of every duplicate cluster — the
    final stage of a near-dedup pipeline: pairs → components → keep
    representative + untouched singletons."""
    comps = connected_components(pairs)
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    # losers ≤ duplicate count ≪ corpus: broadcast the anti-join side so
    # the corpus scan never shuffles
    return df.join(F.broadcast(losers), id_col, "left_anti")


def token_coverage(
    df: DataFrame,
    k: int = 1,
    coverage=(0.5, 0.9, 0.99),
    text_col: str = "text",
    id_col: str = "doc_id",
    counts: "Optional[DataFrame]" = None,
) -> DataFrame:
    """Tokenizer-budget curve: for each requested coverage fraction p,
    the smallest frequency-ranked vocabulary of token ``k``-grams whose
    occurrences cover ≥ p of the corpus gram mass — the sizing question
    every tokenizer/vocab decision starts from ("how many entries buy
    95% coverage?").  Rank order is (count desc, gram asc): fully
    deterministic, the :func:`build_vocab` convention.

    Plan: gram counts (ONE map-side-combined shuffle) → one collapsed
    two-phase cumulative over the distinct-gram frame
    (``plans.scale.global_row_number``, no unpartitioned window) → a
    broadcast boundary probe per coverage point (the ECDF
    boundary-join shape of ``ntile_histogram``) — the corpus is
    scanned once regardless of how many coverage points are asked.
    Output per p: (coverage, vocab_size, covered, total_occurrences).
    """
    from csp_gateway_spark.operators.dedup import shingle_rows
    from csp_gateway_spark.plans.scale import (
        TARGET_ROWS_PER_BUCKET, global_row_number,
    )

    if counts is None:
        if k > 1:
            rows = shingle_rows(df, text_col, id_col, k)
        else:
            rows = df.select(
                F.col(id_col), F.explode(norm_tokens(F.col(text_col))).alias("_s")
            )
        counts = rows.groupBy("_s").agg(
            F.count(F.lit(1)).cast("decimal(18,0)").alias("_c")
        )
    else:
        # pre-built (_s, _c) gram-count table with identical semantics
        counts = counts.select("_s", F.col("_c").cast("decimal(18,0)").alias("_c"))
    ranked = global_row_number(
        counts, "_c", ["_s"], rn_col="_rn", ascending=False,
        cum_value="_c", cum_col="_cum",
        small_threshold=TARGET_ROWS_PER_BUCKET,
    ).localCheckpoint(eager=False)
    totals = ranked.agg(
        F.max(F.col("_cum").cast("long")).alias("_total"),
    )
    ps = totals.select(
        F.explode(F.array(*[F.lit(float(p)) for p in coverage])).alias("coverage"),
        F.col("_total"),
    ).select(
        "coverage",
        "_total",
        (F.col("coverage") * F.col("_total").cast("double")).alias("_target"),
    )
    ecdf = ranked.select(
        F.col("_rn"),
        F.col("_cum").cast("double").alias("_hi"),
        (F.col("_cum") - F.col("_c")).cast("double").alias("_lo"),
        F.col("_cum").cast("long").alias("_covered"),
    )
    return (
        ps.join(
            ecdf,
            (F.col("_target") <= F.col("_hi")) & (F.col("_target") > F.col("_lo")),
        )
        .select(
            "coverage",
            F.col("_rn").cast("long").alias("vocab_size"),
            F.col("_covered").alias("covered"),
            F.col("_total").alias("total_occurrences"),
        )
        .orderBy("coverage")
    )


def build_vocab(
    df: DataFrame,
    size: int = 1 << 15,
    text_col: str = "text",
    id_col: str = "doc_id",
    reserved: int = 1,
) -> DataFrame:
    """Token→id vocabulary: the ``size`` most frequent tokens get dense
    ids starting at ``reserved`` (ids below that are reserved — 0 is
    UNK by convention).  Rank order: count desc, token asc — fully
    deterministic, so the same corpus always yields the same vocab.

    Plan: token counts (one shuffle, map-side combined) → two-phase
    top-k → dense rank.  The ``orderBy().limit(size)`` compiles to
    TakeOrderedAndProject (per-partition partial top-k), so the
    unpartitioned rank window that assigns dense ids only ever sees
    ``size`` rows — bounded by the vocabulary, NOT by the corpus's
    distinct-token count, which at 100 TB is orders of magnitude
    larger and would otherwise funnel through one task."""
    counts = token_rows(df, text_col, id_col).groupBy("token").agg(
        F.count(F.lit(1)).alias("n")
    )
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(size)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return (
        top.withColumn("token_id", F.row_number().over(w) + F.lit(reserved - 1))
        .select("token", "token_id", "n")
    )


def encode_documents(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unk_id: int = 0,
) -> DataFrame:
    """Documents → token-id arrays (the tokenize step of a training
    pipeline): tokens posexploded, mapped through the broadcast vocab
    (OOV → ``unk_id``), reassembled in original order.

    One shuffle (the per-doc reassembly); the vocab join is broadcast —
    a 256k-row vocab is a few MB.  Output: (id, ids: array<int>,
    n_tokens, n_unk)."""
    toks = norm_tokens(F.col(text_col))
    pos_rows = df.select(F.col(id_col), F.posexplode(toks).alias("pos", "token"))
    mapped = pos_rows.join(F.broadcast(vocab.select("token", "token_id")), "token", "left")
    mapped = mapped.select(
        id_col,
        "pos",
        F.coalesce(F.col("token_id"), F.lit(unk_id)).cast("int").alias("tid"),
    )
    return (
        mapped.groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tid"))), lambda s: s["tid"]
            ).alias("ids"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("tid") == unk_id, 1).otherwise(0)).alias("n_unk"),
        )
    )


def bigram_rows(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, pos, w1, w2) word-bigram rows in document order — built
    from a materialized token array with zip_with (never element_at
    inside a transform lambda, which re-evaluates the split per
    element)."""
    toks = norm_tokens(F.col(text_col))
    tok_df = df.select(F.col(id_col), toks.alias("_t"))
    n = F.size(F.col("_t"))
    grams = F.zip_with(
        F.slice(F.col("_t"), 1, F.greatest(n - 1, F.lit(0))),
        F.slice(F.col("_t"), 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return tok_df.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "_g")
    ).select(id_col, "pos", "_g.w1", "_g.w2")


def lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
    lm_big: "Optional[DataFrame]" = None,
) -> DataFrame:
    """Bigram language-model quality score (CCNet-style perplexity
    filtering): train add-k-smoothed bigram probabilities on the corpus
    itself, score every document by its mean log-probability, report
    ``avg_logp`` and ``ppl = exp(-avg_logp)`` (low ppl ⇒ typical text,
    high ppl ⇒ noise/outlier).

    P(w2|w1) = (c(w1,w2) + k) / (c(w1,·) + k·V), V = corpus vocabulary.

    Determinism: each doc's log-prob SUM is a position-ordered fold
    over a collected array — never a double SUM aggregate — so the
    result is partitioning-invariant and engine-reproducible (same
    pattern as ``char_entropy``).  Plan: one shuffle for bigram counts,
    a derived prefix rollup, one join of doc bigrams against the LM
    (shuffle on (w1,w2); at 100 TB the LM side is the reduced
    aggregate, orders smaller than the corpus), one per-doc rollup.
    Docs with <2 tokens get NULL scores.

    ``lm_big`` optionally injects a prebuilt (w1, w2, ``_c12``)
    corpus bigram count table (same tokenize — shared with
    :func:`kn_bigram_entropy`; r14).
    """
    big = bigram_rows(df, text_col, id_col)
    if lm_big is None:
        lm_big = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c12"))
    lm_uni = lm_big.groupBy("w1").agg(F.sum("_c12").alias("_c1"))
    # V as a 1-row aggregate cross-joined (broadcast) into the scoring
    # plan — a driver-side .count() here would be a second ACTION with
    # its own full tokenize+distinct pass over the corpus
    vocab_df = token_rows(df, text_col, id_col).agg(
        F.count_distinct("token").cast("double").alias("_V")
    )
    logp = F.log(
        (F.col("_c12").cast("double") + F.lit(float(k)))
        / (F.col("_c1").cast("double") + F.lit(float(k)) * F.col("_V"))
    )
    scored = (
        big.join(lm_big, ["w1", "w2"])
        .join(lm_uni, ["w1"])
        .crossJoin(F.broadcast(vocab_df))
        .select(id_col, "pos", logp.alias("_lp"))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("pos", "_lp"))).alias("_lps")
    )
    total = F.aggregate(
        F.col("_lps"), F.lit(0.0), lambda acc, x: acc + x["_lp"]
    )
    avg = total / F.size(F.col("_lps"))
    return (
        df.select(id_col)
        .join(
            per_doc.select(F.col(id_col), avg.alias("avg_logp")), id_col, "left"
        )
        .select(
            F.col(id_col),
            F.col("avg_logp"),
            F.exp(-F.col("avg_logp")).alias("ppl"),
        )
    )


def tf_hash_features(
    df: DataFrame,
    dim: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    l2_normalize: bool = False,
) -> DataFrame:
    """Hashing-trick term-frequency features: each token hashes to one
    of ``dim`` buckets (md5-based — engine-portable) and the document
    becomes the sparse rows ``(id, bucket, tf)`` — a model-free text
    featurizer that feeds the cosine/ANN/k-means family when no
    learned embeddings exist (Weinberger et al. 2009 feature hashing).

    Plan: tokenize-explode (scan-local) → ONE groupBy(id, bucket)
    count (map-side combined; shuffle rows ≤ n_docs·dim regardless of
    token count).  Sparse output by design — densify with
    ``pool_embeddings``-style reassembly only when a consumer needs
    arrays.  ``l2_normalize`` rescales tf to unit norm per document
    (cosine-ready without densifying).

    DuckDB mirror of the bucket: ``('0x' || substr(md5(token), 1, 7))
    ::BIGINT % dim``.
    """
    from csp_gateway_spark.operators.dedup import _md5_base

    tok = token_rows(df, text_col, id_col)
    bucket = (_md5_base(F.col("token")) % F.lit(dim)).alias("bucket")
    tf = tok.groupBy(F.col(id_col), bucket).agg(F.count(F.lit(1)).alias("tf"))
    if not l2_normalize:
        return tf
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col)
    norm = F.sqrt(F.sum(F.col("tf") * F.col("tf")).over(w))
    return tf.withColumn("tf_norm", F.col("tf") / norm)


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token windows — the chunking
    step that precedes embedding in a retrieval/embedding pipeline.
    Chunk ``k`` covers token positions ``[k·stride, k·stride +
    chunk_tokens)`` with ``stride = chunk_tokens − overlap``; chunks
    exist while ``k·stride < n_tokens``, so every token belongs to at
    least one chunk and consecutive chunks share ``overlap`` tokens.

    Plan: tokenize once per doc → explode (pos, token) rows + a
    per-doc chunk-id table from the same scan → equi-join on the doc
    id with the position range as a join filter (per-doc work ∝
    n·chunks_per_doc, bounded by doc length — never cross-doc) → one
    groupBy(doc, chunk) ordered reassembly.  Output:
    ``(id, chunk_id, n_tokens, chunk_text)``.
    """
    if overlap >= chunk_tokens:
        raise ValueError(f"overlap ({overlap}) must be < chunk_tokens ({chunk_tokens})")
    stride = chunk_tokens - overlap
    toks = norm_tokens(F.col(text_col))
    tok_df = df.select(F.col(id_col), toks.alias("_t")).filter(F.size("_t") > 0)
    pos_rows = tok_df.select(F.col(id_col), F.posexplode("_t").alias("pos", "token"))
    chunks = tok_df.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(0), F.floor((F.size("_t") - 1) / stride).cast("int"))
        ).alias("chunk_id"),
    )
    joined = pos_rows.join(chunks, id_col).filter(
        (F.col("pos") >= F.col("chunk_id") * stride)
        & (F.col("pos") < F.col("chunk_id") * stride + chunk_tokens)
    )
    return (
        joined.groupBy(id_col, "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s["token"],
                ),
                " ",
            ).alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge training (Sennrich et al. 2016) — distributed, deterministic
# ---------------------------------------------------------------------------


def _bpe_merge_expr(sym_col, a: str, b: str):
    """Greedy left-to-right non-overlapping merge of adjacent pair
    (a, b) inside one symbol array, as a native fold: append each
    symbol unless the accumulator ends with ``a`` and the incoming
    symbol is ``b`` — then replace the tail with the merged symbol.
    Handles runs correctly (``x x x`` with pair (x,x) → ``xx x``)."""
    merged = a + b
    return F.aggregate(
        sym_col,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - F.lit(1)),
                F.array(F.lit(merged)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _bpe_pairs(words: DataFrame) -> DataFrame:
    """Adjacent-pair counts weighted by word frequency (overlapping
    positions all count, the standard BPE statistic)."""
    prs = F.when(
        F.size("syms") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("syms") - 1),
            lambda i: F.struct(
                F.element_at(F.col("syms"), i).alias("left"),
                F.element_at(F.col("syms"), i + 1).alias("right"),
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS array<struct<left:string,right:string>>)"))
    return (
        words.select(F.explode(prs).alias("_p"), "cnt")
        .groupBy("_p.left", "_p.right")
        .agg(F.sum("cnt").alias("n"))
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge rules over the corpus —
    the tokenizer-training step of an LLM data pipeline, run as a
    distributed iteration.

    State = the DISTINCT-WORD table (word → count, symbol array
    initialized to characters), which is orders of magnitude smaller
    than the corpus; the corpus is scanned exactly once.  Per round:
    one map-side-combined pair-count shuffle over the word table, a
    1-row TakeOrdered argmax (count desc, pair asc — deterministic
    tie-break), and a native fold rewrite of the symbol arrays with
    the winning pair inlined as literals.  The rewrites stay LAZY —
    each argmax re-evaluates at most 3 chained folds over the small
    word table, which measures cheaper than materializing the table
    every round (r14: 3.2 → 2.6 s at sf0.1); a ``localCheckpoint``
    every 4th round still caps the lineage so the plan stays O(1) in
    ``n_merges``.

    Returns ``(merge_rank, left, right, n)`` — the ordered merge
    table.  Fully integer/string arithmetic → bit-reproducible on any
    engine; the DuckDB oracle unrolls the same rounds in SQL.
    """
    chars = F.expr(
        f"transform(sequence(1, length(token)), i -> substring(token, i, 1))"
    )
    words = (
        token_rows(df, text_col, id_col)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(chars.alias("syms"), "cnt")
    ).localCheckpoint()
    spark = df.sparkSession
    merges = []
    for rank in range(1, n_merges + 1):
        best = (
            _bpe_pairs(words)
            .orderBy(F.desc("n"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, n = best[0]["left"], best[0]["right"], best[0]["n"]
        merges.append((rank, a, b, n))
        words = words.select(
            _bpe_merge_expr(F.col("syms"), a, b).alias("syms"), "cnt"
        )
        if rank % 4 == 0 and rank < n_merges:
            words = words.localCheckpoint()
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, n bigint"
    )


def bpe_encode(
    df: DataFrame,
    merges: list,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply an ordered merge list to tokenize documents: characters →
    fold each merge rule in rank order (one chained native projection,
    no Python in the row path).  ``merges`` is [(left, right), ...].
    Returns ``(id, pieces: array<string>, n_pieces)``."""
    toks_arr = norm_tokens(F.col(text_col))
    rows = df.select(F.col(id_col), F.posexplode(toks_arr).alias("pos", "token"))
    sym = F.expr("transform(sequence(1, length(token)), i -> substring(token, i, 1))")
    col = sym
    for a, b in merges:
        col = _bpe_merge_expr(col, a, b)
    pieces = rows.select(id_col, "pos", col.alias("pieces"))
    # position-ordered reassembly (collect_list alone is partition-order
    # dependent; the array_sort on (pos, pieces) structs pins it)
    return pieces.groupBy(id_col).agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "pieces"))),
                lambda s: s["pieces"],
            )
        ).alias("pieces"),
        F.sum(F.size("pieces")).alias("n_pieces"),
    )


def bpe_oracle_sql(token_cte: str, n_merges: int = 8) -> str:
    """DuckDB SQL replaying ``bpe_train`` exactly: ``n_merges`` rounds
    unrolled as CTE chains — per round an adjacent-pair count, the
    (count desc, pair asc) argmax, and the same greedy non-overlapping
    rewrite (gaps-and-islands even-offset selection within runs of
    consecutive matching positions ≙ the engine's left fold).
    ``token_cte`` must yield one row per token occurrence, column
    ``token``."""
    parts = [
        f"WITH tokrows AS MATERIALIZED ({token_cte}),",
        "w0 AS MATERIALIZED (",
        "  SELECT token AS wid,",
        "         list_transform(generate_series(1, length(token)), i -> token[i:i]) AS syms,",
        "         COUNT(*) AS cnt",
        "  FROM tokrows GROUP BY token",
        ")",
    ]
    for r in range(1, n_merges + 1):
        prev = f"w{r - 1}"
        parts.append(f""",
p{r} AS MATERIALIZED (
  SELECT syms[i] AS l, syms[i + 1] AS rr, SUM(cnt) AS n
  FROM (SELECT syms, cnt, unnest(generate_series(1, len(syms) - 1)) AS i FROM {prev})
  GROUP BY 1, 2
),
b{r} AS MATERIALIZED (SELECT l, rr, n FROM p{r} ORDER BY n DESC, l ASC, rr ASC LIMIT 1),
e{r} AS MATERIALIZED (
  SELECT wid, cnt,
         unnest(generate_series(1, len(syms))) AS i,
         unnest(syms) AS s
  FROM {prev}
),
mt{r} AS MATERIALIZED (
  SELECT e.wid, e.i
  FROM e{r} e JOIN e{r} e2 ON e.wid = e2.wid AND e2.i = e.i + 1, b{r}
  WHERE e.s = b{r}.l AND e2.s = b{r}.rr
),
k{r} AS MATERIALIZED (
  SELECT wid, i FROM (
    SELECT wid, i, i - ROW_NUMBER() OVER (PARTITION BY wid ORDER BY i) AS grp
    FROM mt{r}
  ) QUALIFY (i - MIN(i) OVER (PARTITION BY wid, grp)) % 2 = 0
),
w{r} AS MATERIALIZED (
  SELECT e.wid AS wid, e.cnt AS cnt,
         list(CASE WHEN k.i IS NOT NULL THEN e.s || b.rr ELSE e.s END ORDER BY e.i) AS syms
  FROM e{r} e
  LEFT JOIN k{r} k ON k.wid = e.wid AND k.i = e.i
  LEFT JOIN k{r} kp ON kp.wid = e.wid AND kp.i = e.i - 1
  CROSS JOIN b{r} b
  WHERE kp.i IS NULL
  GROUP BY 1, 2
)""")
    selects = [
        f'SELECT {r} AS merge_rank, l AS "left", rr AS "right", CAST(n AS BIGINT) AS n FROM b{r}'
        for r in range(1, n_merges + 1)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY merge_rank")
    return "\n".join(parts)


def zipf_fit(
    df: DataFrame,
    topk: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Zipf's-law fit of the corpus token distribution: OLS of
    ln(freq) on ln(rank) over the ``topk`` most frequent tokens.
    Returns one row ``(n_fit, slope, intercept, zipf_exponent)`` with
    ``zipf_exponent = −slope`` (≈1 for natural language; a corpus that
    drifts far from 1 signals boilerplate/spam/synthetic text — a
    cheap corpus-health statistic).

    Plan: ONE token-count shuffle → ``TakeOrdered(topk)`` (never a
    global sort — the head is all a Zipf fit uses) → a row_number
    window over the collected-size ``topk`` rows only → the four OLS
    sums as RANK-ORDERED folds (partitioning-invariant,
    engine-reproducible doubles; a plain SUM aggregate would drift
    with the shuffle).
    """
    from pyspark.sql.window import Window

    counts = token_rows(df, text_col, id_col).groupBy("token").agg(
        F.count(F.lit(1)).alias("n")
    )
    head = counts.orderBy(F.desc("n"), F.asc("token")).limit(int(topk))
    # window over ≤ topk rows — bounded by construction
    rank = F.row_number().over(Window.orderBy(F.desc("n"), F.asc("token")))
    xy = head.select(
        rank.alias("rank"),
        F.log(F.col("n").cast("double")).alias("y"),
    ).select("rank", F.log(F.col("rank").cast("double")).alias("x"), "y")
    folded = xy.agg(
        F.count(F.lit(1)).alias("k"),
        F.array_sort(F.collect_list(F.struct("rank", "x", "y"))).alias("_v"),
    )
    fold = lambda expr: F.aggregate(F.col("_v"), F.lit(0.0), expr)  # noqa: E731
    sums = folded.select(
        "k",
        fold(lambda acc, s: acc + s["x"]).alias("sx"),
        fold(lambda acc, s: acc + s["y"]).alias("sy"),
        fold(lambda acc, s: acc + s["x"] * s["y"]).alias("sxy"),
        fold(lambda acc, s: acc + s["x"] * s["x"]).alias("sxx"),
    )
    kd = F.col("k").cast("double")
    slope = (kd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        kd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("k").alias("n_fit"),
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / kd).alias("intercept"),
        (-slope).alias("zipf_exponent"),
    )


def pagerank(
    edges: DataFrame,
    iters: int = 2,
    damping: float = 0.85,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    directed: bool = False,
    checkpoint_every: int = 4,
    fold_buckets: int = 256,
) -> DataFrame:
    """PageRank over the node set appearing in ``edges`` — centrality
    for similarity graphs (e.g. ``shared_ngram_pairs`` /
    ``minhash_lsh_pairs`` output): high-rank docs are template hubs,
    useful both for picking cluster representatives and for spotting
    boilerplate.

    Undirected edges are symmetrized, so every node has out-degree ≥ 1
    (no dangling mass).  Per round: one join of ranks onto edges and
    a TWO-LEVEL src-ordered fold (never a double SUM aggregate), so
    ranks are partitioning-invariant and engine-reproducible — level
    1 folds contributions per ``(dst, src mod fold_buckets)`` in src
    order, level 2 folds the ≤``fold_buckets`` bucket sums in bucket
    order.  A celebrity hub with 10⁷ in-edges therefore never
    materializes one giant per-node array: the largest row is bounded
    by ``degree / fold_buckets`` and the buckets spread across tasks.
    Teleport ``(1−d)/n`` uses a 1-row broadcast
    count (no driver action).  Lineage is cut every
    ``checkpoint_every`` rounds (``localCheckpoint``, same as
    ``connected_components``) so long runs stay plan-bounded.
    Returns (node, pr).
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    # the edge table is referenced 2 + 2·iters times (degrees, nodes,
    # every round's contribution join); cut the upstream pipeline
    # (e.g. an LSH/shingle candidate generator) out of each reference
    e = e.distinct().localCheckpoint()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    nodes = e.select(F.col("src").alias("node")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    d = float(damping)
    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("_n")).alias("pr")
    )
    for it in range(iters):
        contrib = (
            e.join(pr, e["src"] == pr["node"])
            .join(deg, "src")
            .select("src", "dst", (F.col("pr") / F.col("_deg").cast("double")).alias("_c"))
        )
        bucket_sums = (
            contrib.groupBy(
                "dst", F.pmod(F.col("src"), F.lit(fold_buckets)).alias("_b")
            )
            .agg(F.array_sort(F.collect_list(F.struct("src", "_c"))).alias("_vs"))
            .select(
                "dst",
                "_b",
                F.aggregate(
                    F.col("_vs"), F.lit(0.0), lambda acc, s: acc + s["_c"]
                ).alias("_bs"),
            )
        )
        summed = (
            bucket_sums.groupBy("dst")
            .agg(F.array_sort(F.collect_list(F.struct("_b", "_bs"))).alias("_bvs"))
            .select(
                F.col("dst").alias("node"),
                F.aggregate(
                    F.col("_bvs"), F.lit(0.0), lambda acc, s: acc + s["_bs"]
                ).alias("_sum"),
            )
        )
        pr = (
            nodes.join(summed, "node", "left")
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                (
                    (F.lit(1.0) - F.lit(d)) / F.col("_n")
                    + F.lit(d) * F.coalesce(F.col("_sum"), F.lit(0.0))
                ).alias("pr"),
            )
        )
        if (it + 1) % checkpoint_every == 0 and it + 1 < iters:
            pr = pr.localCheckpoint()
    return pr


def pmi_collocations(
    df: DataFrame,
    min_count: int = 5,
    topk: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    c12: "Optional[DataFrame]" = None,
    c1: "Optional[DataFrame]" = None,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information:
    ``pmi(w1, w2) = ln(N·c12 / (c1·c2))`` over adjacent word pairs
    with ``c12 ≥ min_count`` (the standard collocation statistic —
    Church & Hanks 1990 — and a cheap tokenizer-vocabulary signal:
    high-PMI pairs are the phrases a BPE/unigram tokenizer should not
    split).

    Plan: ONE bigram-count shuffle + ONE unigram-count shuffle (both
    map-side combined), two broadcast-sized joins of the filtered
    bigram head against the unigram table, TakeOrdered(topk).  N (the
    bigram total) is a 1-row broadcast aggregate — no driver action.
    The PMI expression is a single double product/quotient — exact on
    any engine; ranking ties break on (w1, w2).
    """
    if c12 is None:
        c12 = bigram_rows(df, text_col, id_col).groupBy("w1", "w2").agg(
            F.count(F.lit(1)).alias("c12")
        )
    # unigram counts from the SAME bigram stream (left position) plus
    # each doc's final token: count token occurrences directly instead
    if c1 is None:
        c1 = token_rows(df, text_col, id_col).groupBy("token").agg(
            F.count(F.lit(1)).alias("c")
        )
    # N (the bigram total) from the count table itself — Σc12 equals
    # the stream count exactly, and saves a second bigram scan
    ntot = c12.agg(F.sum("c12").cast("double").alias("_N"))
    head = c12.filter(F.col("c12") >= int(min_count))
    joined = (
        head.join(c1.select(F.col("token").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(c1.select(F.col("token").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(ntot))
    )
    pmi = F.log(
        (F.col("_N") * F.col("c12").cast("double"))
        / (F.col("c1").cast("double") * F.col("c2").cast("double"))
    )
    return (
        joined.select("w1", "w2", "c12", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(int(topk))
    )


def vocab_coverage(
    df: DataFrame,
    vocab: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group tokenizer coverage report: total tokens, OOV tokens,
    and the OOV rate against a vocabulary table (``build_vocab``
    output) — the go/no-go statistic for shipping a tokenizer (a
    source with 10 % OOV will train badly).

    The rate is SUM(unk)/SUM(tokens) over integer counts (exact,
    order-free) — never an average of per-doc ratios, which would be
    a float sum in shuffle order.  One broadcast vocab join + one
    map-side-combined groupBy."""
    tok = token_rows(df, text_col, id_col)
    docs_src = df.select(F.col(id_col), F.col(group_col))
    joined = (
        tok.join(F.broadcast(vocab.select("token", "token_id")), "token", "left")
        .join(docs_src, id_col)
    )
    return joined.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.sum(F.when(F.col("token_id").isNull(), 1).otherwise(0)).alias("oov_tokens"),
        (
            F.sum(F.when(F.col("token_id").isNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("oov_rate"),
    )


def source_drift(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    top_v: int = 512,
    k: float = 0.5,
    counts: "Optional[DataFrame]" = None,
) -> DataFrame:
    """Per-group distribution-drift report: KL(group ‖ corpus) over
    unigram distributions — the monitoring statistic that catches a
    source whose content shifted (new crawl snapshot, upstream format
    change) before it contaminates a training mix.

    The comparison vocabulary is the corpus-wide top-``top_v`` tokens
    (two-phase top-k → TakeOrdered → broadcast); everything rarer
    collapses into one OOV bucket, so the per-group state is bounded
    at V+1 cells BY DESIGN regardless of corpus size.  Probabilities
    are add-k smoothed over the V+1 cells:

        p(t) = (c(t) + k) / (n + k·(V+1))
        KL   = Σ_t p_g(t) · ln(p_g(t) / p_c(t))

    Determinism: the KL sum folds in token order over a collected
    array of ≤ V+1 structs per group (OOV bucket named ``~~oov~~``
    sorts last) — partitioning-invariant doubles, same pattern as
    ``lm_score``.  Shuffles: one token count, one (group, token)
    count, one per-group rollup; vocab and the 1-row corpus stats are
    broadcast.

    Output: (group_col, n_tokens, oov_rate, kl).
    """
    # r14: collapse the token stream ONCE into (group, token, count)
    # cells — the four downstream consumers (corpus counts, corpus
    # total, per-group totals, per-(group, vocab-token) counts) each
    # re-ran the tokenize + explode otherwise.  Exact: every quantity
    # below is a sum of the same integer counts.
    if counts is None:
        toks = norm_tokens(F.col(text_col))
        rows = df.select(F.col(group_col), F.explode(toks).alias("token"))
        counts = rows.groupBy(group_col, "token").agg(
            F.count(F.lit(1)).alias("_c")
        )
        counts = counts.localCheckpoint(eager=False)
    corpus_counts = counts.groupBy("token").agg(F.sum("_c").alias("c_corp"))
    vocab = corpus_counts.orderBy(F.desc("c_corp"), F.asc("token")).limit(top_v)
    # 1-row corpus stats: total tokens, vocab size, vocab token total
    vstats = vocab.agg(
        F.count(F.lit(1)).alias("v"), F.sum("c_corp").alias("vocab_corp")
    )
    cstats = counts.agg(F.sum("_c").alias("n_c")).crossJoin(F.broadcast(vstats))
    src_tot = counts.groupBy(group_col).agg(F.sum("_c").alias("n_s"))
    src_vocab = counts.join(F.broadcast(vocab.select("token")), "token").select(
        group_col, "token", F.col("_c").alias("c_s")
    )
    # dense grid (every group × vocab token, zeros filled) + OOV bucket
    grid = (
        src_tot.crossJoin(F.broadcast(vocab))
        .join(src_vocab, [group_col, "token"], "left")
        .fillna(0, subset=["c_s"])
    )
    per_src_vocab = grid.groupBy(group_col, "n_s").agg(
        F.sum("c_s").alias("vocab_s")
    )
    oov = per_src_vocab.select(
        F.col(group_col),
        F.col("n_s"),
        F.lit("~~oov~~").alias("token"),
        (F.col("n_s") - F.col("vocab_s")).alias("c_s"),
    )
    cells = grid.select(group_col, "n_s", "token", "c_s", "c_corp").unionByName(
        oov.crossJoin(F.broadcast(cstats.select((F.col("n_c") - F.col("vocab_corp")).alias("c_corp"))))
        .select(group_col, "n_s", "token", "c_s", "c_corp")
    )
    kl = cells.crossJoin(F.broadcast(cstats.select("n_c", "v")))
    p_s = (F.col("c_s").cast("double") + F.lit(k)) / (
        F.col("n_s").cast("double") + F.lit(k) * (F.col("v") + F.lit(1))
    )
    p_c = (F.col("c_corp").cast("double") + F.lit(k)) / (
        F.col("n_c").cast("double") + F.lit(k) * (F.col("v") + F.lit(1))
    )
    term = p_s * F.log(p_s / p_c)
    folded = (
        kl.select(F.col(group_col), F.col("n_s"), F.col("token"), term.alias("_t"))
        .groupBy(group_col, "n_s")
        .agg(F.array_sort(F.collect_list(F.struct("token", "_t"))).alias("_terms"))
    )
    total = F.aggregate(F.col("_terms"), F.lit(0.0), lambda acc, x: acc + x["_t"])
    out = folded.join(per_src_vocab, [group_col, "n_s"])
    return out.select(
        F.col(group_col),
        F.col("n_s").alias("n_tokens"),
        ((F.col("n_s") - F.col("vocab_s")).cast("double") / F.col("n_s").cast("double")).alias(
            "oov_rate"
        ),
        total.alias("kl"),
    )


def trigram_rows(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, pos, w1, w2, w3) word-trigram rows in document order —
    same zip_with-over-slices construction as ``bigram_rows``."""
    toks = norm_tokens(F.col(text_col))
    tok_df = df.select(F.col(id_col), toks.alias("_t"))
    n = F.size(F.col("_t"))
    pairs = F.zip_with(
        F.slice(F.col("_t"), 1, F.greatest(n - 2, F.lit(0))),
        F.slice(F.col("_t"), 2, F.greatest(n - 2, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    grams = F.zip_with(
        pairs,
        F.slice(F.col("_t"), 3, F.greatest(n - 2, F.lit(0))),
        lambda p, c: F.struct(p["w1"].alias("w1"), p["w2"].alias("w2"), c.alias("w3")),
    )
    return tok_df.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "_g")
    ).select(id_col, "pos", "_g.w1", "_g.w2", "_g.w3")


def lm_score_backoff(
    df: DataFrame,
    train: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    floor_k: float = 0.5,
    c1: "Optional[DataFrame]" = None,
) -> DataFrame:
    """Trigram LM with STUPID BACKOFF (Brants et al. 2007, "Large
    Language Models in Machine Translation" §4) trained on a REFERENCE
    subset and scored over the corpus — the CCNet-style quality signal
    with real backoff behavior (training on the corpus itself makes
    every observed trigram count ≥ 1 and the backoff dead):

        S(w3|w1 w2) = c(w1w2w3)/c(w1w2)          if trigram seen
                    = α · c(w2w3)/c(w2)           elif bigram seen
                    = α² · c(w3)/N                elif unigram seen
                    = α² · k/N                    else  (OOV floor)

    α defaults to 0.5 (binary-exact; the paper's 0.4 is an unrounded
    double and would hash-differently across engines).  Per-doc score
    is the position-ordered fold of ln S (partitioning-invariant, same
    pattern as ``lm_score``); output (id, avg_logs, ppl) with NULLs
    for docs shorter than 3 tokens.

    Plan: three count aggregations over the TRAIN set (orders smaller
    than the corpus), each reduced before broadcast-joining onto the
    corpus trigram stream; one per-doc rollup.  No driver actions.
    """
    tri_train = trigram_rows(train, text_col, id_col)
    c3g = tri_train.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("_c123"))
    big_train = bigram_rows(train, text_col, id_col)
    c2g = big_train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c12"))
    if c1 is None:
        uni_train = token_rows(train, text_col, id_col)
        c1 = uni_train.groupBy("token").agg(F.count(F.lit(1)).alias("_c1"))
    # N from the count table itself — Σ_c1 equals the token-stream
    # count exactly, and saves one more tokenize of the train set
    c1g = c1
    n1 = c1g.agg(F.sum("_c1").cast("double").alias("_N"))

    tri = trigram_rows(df, text_col, id_col)
    j = (
        tri.join(c3g, ["w1", "w2", "w3"], "left")
        .join(c2g, ["w1", "w2"], "left")
        .join(
            c2g.select(
                F.col("w1").alias("w2"), F.col("w2").alias("w3"), F.col("_c12").alias("_c23")
            ),
            ["w2", "w3"],
            "left",
        )
        .join(c1g.select(F.col("token").alias("w3"), "_c1"), ["w3"], "left")
        .crossJoin(F.broadcast(n1))
    )
    a = float(alpha)
    # c2 (the unigram count of w2) is needed for the bigram backoff
    j = j.join(
        c1g.select(F.col("token").alias("w2"), F.col("_c1").alias("_c1w2")),
        ["w2"],
        "left",
    )
    s = (
        F.when(
            F.col("_c123").isNotNull(),
            F.col("_c123").cast("double") / F.col("_c12").cast("double"),
        )
        .when(
            F.col("_c23").isNotNull(),
            F.lit(a) * (F.col("_c23").cast("double") / F.col("_c1w2").cast("double")),
        )
        .when(
            F.col("_c1").isNotNull(),
            F.lit(a) * F.lit(a) * (F.col("_c1").cast("double") / F.col("_N")),
        )
        .otherwise(F.lit(a) * F.lit(a) * (F.lit(float(floor_k)) / F.col("_N")))
    )
    scored = j.select(F.col(id_col), F.col("pos"), F.log(s).alias("_ls"))
    per_doc = scored.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("pos", "_ls"))).alias("_lss")
    )
    total = F.aggregate(F.col("_lss"), F.lit(0.0), lambda acc, x: acc + x["_ls"])
    avg = total / F.size(F.col("_lss"))
    return (
        df.select(id_col)
        .join(per_doc.select(F.col(id_col), avg.alias("avg_logs")), id_col, "left")
        .select(
            F.col(id_col),
            F.col("avg_logs"),
            F.exp(-F.col("avg_logs")).alias("ppl"),
        )
    )


def ctfidf_terms(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    topk: int = 10,
) -> DataFrame:
    """Class-based TF-IDF (the BERTopic c-TF-IDF shape): terms scored
    per GROUP rather than per document — ctf·(ln((G+1)/(gdf+1))+1)
    where ctf is the term's count inside the group and gdf the number
    of groups containing it.  "What vocabulary distinguishes this
    source/cluster" — the topic-labeling step after any clustering or
    source split.

    Same formula shape as ``tf_idf`` so the two rankings are
    comparable.  Plan: one (group, token) count (map-side combined),
    a token-keyed group-frequency aggregate joined back (token
    dimension ≪ corpus — broadcast), the group total as a 1-row
    broadcast, and a rank window PARTITIONED BY GROUP — bounded by
    per-group vocabulary, never corpus-global.  Score is one double
    expression over exact integer counts: engine-identical."""
    from pyspark.sql.window import Window

    from csp_gateway_spark.operators.text import norm_tokens

    tok = df.select(
        F.col(group_col).alias("grp"),
        F.explode(norm_tokens(F.col(text_col))).alias("token"),
    )
    ctf = tok.groupBy("grp", "token").agg(F.count(F.lit(1)).alias("ctf"))
    gdf = ctf.groupBy("token").agg(F.count(F.lit(1)).alias("gdf"))
    n_groups = df.select(F.col(group_col)).distinct().agg(
        F.count(F.lit(1)).alias("_g")
    )
    scored = (
        ctf.join(F.broadcast(gdf), "token")
        .crossJoin(F.broadcast(n_groups))
        .withColumn(
            "score",
            F.col("ctf")
            * (F.log((F.col("_g") + F.lit(1.0)) / (F.col("gdf") + F.lit(1))) + F.lit(1.0)),
        )
    )
    w = Window.partitionBy("grp").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            F.col("grp").alias(group_col), "rank", "token", "ctf", "gdf", "score"
        )
    )


def triangle_count(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    topk: int = 10,
) -> DataFrame:
    """Triangle census over an undirected edge list (``a < b``
    canonical): per-node triangle participation (top-k) plus the
    global triangle total — the clustering-coefficient numerator that
    separates "hub of a template family" from "chain of pairwise
    near-dups" in a dedup graph.

    Classic ordered wedge-close: join edges (a,b)⋈(b,c) to wedges,
    close against (a,c).  Ordering each triangle a<b<c counts it
    exactly once with NO direction explosion; both joins key on a
    single node column (AQE handles hub skew).  Candidate cost is
    Σ deg²(v) over wedge midpoints — bounded by the edge generator's
    blocking, never corpus²."""
    e = edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b")).distinct()
    bc = e.select(F.col("a").alias("_b"), F.col("b").alias("c"))
    wedges = e.join(bc, F.col("b") == F.col("_b")).select("a", "b", "c")
    close = e.select(F.col("a").alias("_ca"), F.col("b").alias("_cc"))
    tri = wedges.join(
        close, (F.col("a") == F.col("_ca")) & (F.col("c") == F.col("_cc"))
    ).select("a", "b", "c")
    total = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    per_node = (
        tri.selectExpr("explode(array(a, b, c)) AS node")
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
        .orderBy(F.desc("n_tri"), F.asc("node"))
        .limit(topk)
    )
    return per_node.crossJoin(F.broadcast(total))


def kcore(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 3,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """k-core peeling: iteratively drop nodes with degree < ``k`` from
    the undirected graph; after convergence the survivors form the
    k-core — the dense backbone of a similarity graph (template
    families, paraphrase clusters) with the pendant fringe removed.

    Each round is one degree aggregation + two semi-joins — all keyed
    on node ids; ``rounds`` bounds work (the gate oracle unrolls the
    same rounds), with a `localCheckpoint` per round cutting lineage
    like the other iterative operators.  Returns (node, degree) of
    the surviving core after the final round."""
    e = (
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _ in range(rounds):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        e = (
            e.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=False)
        )
    return e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 2,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Community / source-attribution smoothing by majority label
    propagation: each round every node adopts the most common label
    among its neighbors (ties → lexicographically smallest label;
    isolated nodes keep their label) — the cheap graph-clustering
    companion to `connected_components` when nodes carry a prior
    label (document source, language, site).

    Graph nodes ABSENT from ``seeds`` participate unlabeled (NULL):
    they cast no votes but adopt the majority label of their labeled
    neighbors as rounds proceed, and they appear in the output (label
    NULL if never reached) — so the node universe is seeds ∪ edge
    endpoints, nothing silently dropped.

    Pure integer/string logic — NO floating point anywhere, so the
    result is engine-exact by construction.  Per round: one join of
    labels onto the symmetrized edges, one (dst, label) count, and a
    two-phase argmax (max count per dst, then min label at that
    count) — all equi-shuffles on node ids; hub nodes cost a large
    GROUP, never a large row (no collect_list).  Lineage is cut per
    round like `pagerank`."""
    e = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_t"))
    e = e.unionByName(
        e.select(F.col("_t").alias("_s"), F.col("_s").alias("_t"))
    ).distinct().localCheckpoint(eager=False)
    seeded = seeds.select(F.col(node_col).alias("_n"), F.col(label_col).alias("_l"))
    unseeded = (
        e.select(F.col("_s").alias("_n"))
        .distinct()
        .join(seeded.select("_n"), "_n", "left_anti")
        .withColumn("_l", F.lit(None).cast(seeded.schema["_l"].dataType))
    )
    labels = seeded.unionByName(unseeded)
    for _ in range(iters):
        voters = labels.filter(F.col("_l").isNotNull())
        counts = (
            e.join(voters, e["_s"] == voters["_n"])
            .groupBy(F.col("_t"), F.col("_l"))
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        maxc = counts.groupBy("_t").agg(F.max("_c").alias("_mc"))
        best = (
            counts.join(maxc, "_t")
            .filter(F.col("_c") == F.col("_mc"))
            .groupBy("_t")
            .agg(F.min("_l").alias("_bl"))
        )
        labels = (
            labels.join(best, labels["_n"] == best["_t"], "left")
            .select("_n", F.coalesce(F.col("_bl"), F.col("_l")).alias("_l"))
            .localCheckpoint(eager=False)
        )
    return labels.select(F.col("_n").alias(node_col), F.col("_l").alias(label_col))


def vocab_growth(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoints: int = 4,
) -> DataFrame:
    """Heaps-law vocabulary growth curve: distinct-vocabulary size,
    document count and token count at ``checkpoints`` evenly-spaced
    doc-id cutoffs — the corpus-stats report that tells a training-mix
    owner whether more of a source still buys new vocabulary.

    Each token's FIRST document (one min aggregate over the token
    stream) makes the cumulative-distinct question a plain count:
    vocab(c) = tokens whose first doc ≤ c — no distinct-over-window
    blowup.  The checkpoint table is ≤ ``checkpoints`` rows (broadcast
    into two bounded conditional joins).  Pure integer logic —
    engine-exact.  Output per checkpoint: (checkpoint, cutoff,
    n_docs, n_tokens, vocab)."""
    stats = df.agg(F.max(F.col(id_col)).alias("_mx"))
    cps = stats.select(
        F.explode(F.sequence(F.lit(1), F.lit(checkpoints))).alias("_i"), "_mx"
    ).select(
        "_i", F.expr(f"(_mx * _i) div {checkpoints}").cast("long").alias("cutoff")
    )
    tok = token_rows(df, text_col, id_col)
    first = tok.groupBy("token").agg(F.min(F.col(id_col)).alias("_first"))
    per_doc = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("_nt"))
    v = (
        first.crossJoin(F.broadcast(cps))
        .filter(F.col("_first") <= F.col("cutoff"))
        .groupBy("_i", "cutoff")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    d = (
        per_doc.crossJoin(F.broadcast(cps))
        .filter(F.col(id_col) <= F.col("cutoff"))
        .groupBy("_i")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").cast("long").alias("n_tokens"),
        )
    )
    return (
        v.join(F.broadcast(d), "_i")
        .select(
            F.col("_i").cast("long").alias("checkpoint"),
            "cutoff",
            "n_docs",
            "n_tokens",
            "vocab",
        )
        .orderBy("checkpoint")
    )


def adamic_adar(
    edges: DataFrame,
    hub_col: str,
    node_col: str,
    min_degree: int = 2,
    max_degree: int = 1000,
    top_k: int = 20,
) -> DataFrame:
    """Adamic-Adar link prediction over a bipartite co-occurrence
    graph: for every node pair sharing a hub, score = Σ_w 1/ln(deg w)
    over the shared hubs — rarer hubs count more (the standard
    common-neighbors signal for 'these two suppliers/authors/docs are
    related').

    Pair generation is HUB-BLOCKED: the self-join runs per hub, so
    work is Σ d·(d−1)/2 over hub degrees, and ``max_degree`` drops
    super-hubs before the quadratic step (the star-graph guard shared
    with the SCALING.md label-propagation case).  Each pair's double
    sum folds its hub-sorted shared list (bounded by the
    co-occurrence contract) with pinned FP order, and the top-k pick
    orders on engine-identical doubles with the pair as tiebreak.
    Output: top-k rows (n1, n2, shared, score)."""
    # ONE hub-side aggregate replaces distinct + self-join: collect_set
    # dedups map-side, the degree filter prunes before the quadratic
    # step, and the pair list explodes IN-PLAN per hub — two shuffles
    # total (by hub, then by pair) instead of a 2-sided co-shuffle join
    per_hub = edges.groupBy(F.col(hub_col).alias("_p")).agg(
        F.sort_array(F.collect_set(F.col(node_col))).alias("_ss")
    ).filter(
        (F.size("_ss") >= int(min_degree)) & (F.size("_ss") <= int(max_degree))
    )
    w = F.lit(1.0) / F.log(F.size("_ss").cast("double"))
    pair_arr = F.flatten(
        F.transform(
            F.col("_ss"),
            lambda s1, i: F.transform(
                F.slice(F.col("_ss"), i + 2, F.size(F.col("_ss")) - i - 1),
                lambda s2: F.struct(s1.alias("_s1"), s2.alias("_s2")),
            ),
        )
    )
    pairs = per_hub.select(
        "_p", w.alias("_w"), F.explode(pair_arr).alias("_e")
    ).select("_p", "_w", F.col("_e._s1").alias("_s1"), F.col("_e._s2").alias("_s2"))
    g = pairs.groupBy("_s1", "_s2").agg(
        F.count(F.lit(1)).alias("shared"),
        F.array_sort(F.collect_list(F.struct("_p", "_w"))).alias("_z"),
    )
    score = F.aggregate(
        F.transform(F.col("_z"), lambda x: x["_w"]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = g.select(
        F.col("_s1").alias("n1"),
        F.col("_s2").alias("n2"),
        "shared",
        score.alias("score"),
    )
    return scored.orderBy(
        F.desc("score"), F.asc("n1"), F.asc("n2")
    ).limit(int(top_k))


def rouge_overlap(
    df: DataFrame,
    pair_offset: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    by: str = "source",
) -> DataFrame:
    """Micro-averaged ROUGE-1/ROUGE-2 between deterministic document
    pairs (candidate d ↔ reference d+``pair_offset``, same group) —
    the n-gram-overlap summarization/paraphrase metric, run corpus-
    scale.

    The pairing is a pure EQUI join on the shifted id (the same-group
    predicate rides along), and each ROUGE level is two more equi
    joins: per-doc n-gram multiset counts (one explode + hash
    aggregate), then pair×n-gram clipped-overlap Σmin(c_cand, c_ref).
    Per-group totals are exact integers, so precision/recall/F1 are
    closed-form doubles — no per-pair double averaging.  Output per
    (group, metric∈{rouge1,rouge2}): (by, metric, n_pairs, overlap,
    cand_total, ref_total, precision, recall, f1)."""
    ids = F.col(id_col)
    pairs = (
        df.select(ids.alias("_aid"), F.col(by).alias("_g"))
        .join(
            df.select(
                (ids - F.lit(pair_offset)).alias("_aid"),
                ids.alias("_bid"),
                F.col(by).alias("_g2"),
            ),
            "_aid",
        )
        .filter(F.col("_g") == F.col("_g2"))
        .select("_aid", "_bid", "_g")
    )

    def gram_counts(k: int) -> DataFrame:
        toks_expr = norm_tokens(F.col(text_col))
        if k == 1:
            grams = toks_expr
        else:
            # bind the token array as a lambda variable — an inlined
            # tokenizer expression under an interpreted HOF re-runs per
            # gram position (quadratic; see winnow_fingerprints)
            grams = F.transform(
                F.array(toks_expr),
                lambda toks: F.when(
                    F.size(toks) >= k,
                    F.transform(
                        F.sequence(F.lit(0), F.size(toks) - k),
                        lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
                    ),
                ).otherwise(F.array(F.array_join(toks, " "))),
            )[0]
        return (
            df.select(ids.alias("_id"), F.explode(grams).alias("_gram"))
            .groupBy("_id", "_gram")
            .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        )

    # ONE tokenize pass yields BOTH per-doc gram totals (r14): the
    # per-side total is just the gram-array length — the explode +
    # sum-of-counts rollup it replaces is arithmetic identity, and
    # presence matches too (k=1: a doc has gram rows iff it has
    # tokens; k>1: every doc yields >=1 gram via the short-doc arm)
    _tk = norm_tokens(F.col(text_col))
    _n = F.size(_tk)
    sizes = df.select(
        ids.alias("_id"),
        _n.cast("long").alias("_t1"),
        F.when(_n >= 2, _n - 1).otherwise(1).cast("long").alias("_t2"),
    )

    out = None
    for k, metric in ((1, "rouge1"), (2, "rouge2")):
        # build the (doc, gram, count) table ONCE per k and rename it
        # per side (r14) — the candidate and reference tables are the
        # same plan up to column aliases, so renaming AFTER the
        # aggregate lets exchange reuse dedupe the tokenize + explode
        # + aggregate (an eager checkpoint here measured 2x SLOWER:
        # the (doc, gram) table is corpus-sized, materializing it
        # costs more than the reuse saves)
        c = gram_counts(k)
        ca = c.select(
            F.col("_id").alias("_aid"), "_gram", F.col("_c").alias("_c_aid")
        )
        cb = c.select(
            F.col("_id").alias("_bid"), "_gram", F.col("_c").alias("_c_bid")
        )
        ov = (
            pairs.join(ca, "_aid")
            .join(cb, ["_bid", "_gram"])
            .groupBy("_g")
            .agg(
                F.sum(F.least(F.col("_c_aid"), F.col("_c_bid")))
                .cast("long")
                .alias("overlap")
            )
        )
        # ALL THREE totals from ONE pairs-frame inner-joined to BOTH
        # per-doc totals (mirrors the oracle's `pairs JOIN tot tc JOIN
        # tot tr`): a doc with zero normalized grams drops its pairs
        # from n_pairs/cand_total/ref_total consistently, instead of
        # each total being computed over a different pair subset
        tcol = "_t1" if k == 1 else "_t2"
        tots = (
            pairs.join(
                sizes.filter(F.col(tcol) > 0).select(
                    F.col("_id").alias("_aid"), F.col(tcol).alias("_ta")
                ),
                "_aid",
            )
            .join(
                sizes.filter(F.col(tcol) > 0).select(
                    F.col("_id").alias("_bid"), F.col(tcol).alias("_tb")
                ),
                "_bid",
            )
            .groupBy("_g")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_pairs"),
                F.sum("_ta").cast("long").alias("cand_total"),
                F.sum("_tb").cast("long").alias("ref_total"),
            )
        )
        m = tots.join(ov, "_g", "left").select(
            F.col("_g").alias(by),
            F.lit(metric).alias("metric"),
            "n_pairs",
            F.coalesce(F.col("overlap"), F.lit(0)).cast("long").alias("overlap"),
            "cand_total",
            "ref_total",
        )
        p = F.col("overlap").cast("double") / F.col("cand_total").cast("double")
        r = F.col("overlap").cast("double") / F.col("ref_total").cast("double")
        m = m.select(
            by,
            "metric",
            "n_pairs",
            "overlap",
            "cand_total",
            "ref_total",
            p.alias("precision"),
            r.alias("recall"),
            F.when(p + r > 0, F.lit(2.0) * p * r / (p + r))
            .otherwise(F.lit(0.0))
            .alias("f1"),
        )
        out = m if out is None else out.unionByName(m)
    return out


def burrows_delta(
    df: DataFrame,
    top_v: int = 50,
    text_col: str = "text",
    by: str = "source",
    counts: "Optional[DataFrame]" = None,
) -> DataFrame:
    """Burrows' Delta stylometric distance between every pair of
    groups: z-score each of the ``top_v`` most frequent words'
    relative frequency across groups, then Delta(a,b) = mean |z_a −
    z_b| — the authorship/template-drift measure over corpus slices.

    Scale shape: ONE token aggregate; the vocabulary head is a
    TakeOrdered top-V (broadcast); the (V × groups) frequency grid is
    grid-bounded by construction, so the per-word mean/sd and the
    per-pair Delta both fold SORTED packed arrays (pinned FP order) —
    relative frequencies are exact-integer ratios, everything after
    is identical closed-form doubles.  Output per unordered pair:
    (source_a, source_b, delta)."""
    # r14: all three token consumers (per-group totals, per-(word,
    # group) counts, the top-V vocabulary head) derive from one
    # (group, word, count) cell table — injected (``counts``) or built
    # once here; sums of the same exact integers either way.
    if counts is None:
        toks = df.select(
            F.col(by).alias("_g"),
            F.explode(norm_tokens(F.col(text_col))).alias("_w"),
        )
        counts = toks.groupBy("_w", "_g").agg(
            F.count(F.lit(1)).cast("long").alias("_c")
        )
        counts = counts.localCheckpoint(eager=False)
    totals = counts.groupBy("_g").agg(F.sum("_c").cast("long").alias("_n"))
    vocab = (
        counts.groupBy("_w")
        .agg(F.sum("_c").cast("long").alias("_tc"))
        .orderBy(F.desc("_tc"), F.asc("_w"))
        .limit(top_v)
        .select("_w")
    )
    grid = F.broadcast(vocab).crossJoin(totals.select("_g", "_n"))
    freq = grid.join(counts, ["_w", "_g"], "left").select(
        "_w",
        "_g",
        (
            F.coalesce(F.col("_c"), F.lit(0)).cast("double")
            / F.col("_n").cast("double")
        ).alias("_f"),
    )
    per_word = freq.groupBy("_w").agg(
        F.count(F.lit(1)).cast("long").alias("_k"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_g", "_f"))),
                lambda x: F.struct(
                    x["_f"].alias("s"), (x["_f"] * x["_f"]).alias("s2")
                ),
            ),
            F.struct(F.lit(0.0).alias("s"), F.lit(0.0).alias("s2")),
            lambda acc, x: F.struct(
                (acc["s"] + x["s"]).alias("s"),
                (acc["s2"] + x["s2"]).alias("s2"),
            ),
        ).alias("_m"),
    )
    stats = per_word.select(
        "_w",
        (F.col("_m.s") / F.col("_k").cast("double")).alias("_mu"),
        F.sqrt(
            (F.col("_m.s2") - F.col("_m.s") * F.col("_m.s") / F.col("_k").cast("double"))
            / (F.col("_k").cast("double") - F.lit(1.0))
        ).alias("_sd"),
    )
    z = freq.join(F.broadcast(stats), "_w").select(
        "_w",
        "_g",
        F.when(F.col("_sd") > 0, (F.col("_f") - F.col("_mu")) / F.col("_sd"))
        .otherwise(F.lit(0.0))
        .alias("_z"),
    )
    za = z.select("_w", F.col("_g").alias("_ga"), F.col("_z").alias("_za"))
    zb = z.select("_w", F.col("_g").alias("_gb"), F.col("_z").alias("_zb"))
    pairs = za.join(zb, "_w").filter(F.col("_ga") < F.col("_gb"))
    out = pairs.groupBy("_ga", "_gb").agg(
        F.count(F.lit(1)).cast("long").alias("_nv"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("_w", F.abs(F.col("_za") - F.col("_zb")).alias("_d"))
                    )
                ),
                lambda x: x["_d"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_sum"),
    )
    return out.select(
        F.col("_ga").alias("source_a"),
        F.col("_gb").alias("source_b"),
        (F.col("_sum") / F.col("_nv").cast("double")).alias("delta"),
    )


def hits(
    edges: DataFrame,
    iters: int = 2,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    directed: bool = False,
) -> DataFrame:
    """HITS hub/authority scores over the node set of ``edges`` — the
    mutual-reinforcement companion of :func:`pagerank` (a good hub
    links to good authorities; a good authority is linked by good
    hubs).  On a similarity graph, authorities are the densely-linked
    template cores and hubs the docs touching many of them.

    Scale + exactness design: hubs seed at 1 and the two alternating
    half-steps a ← Σ_{u→v} h(u), h ← Σ_{u→v} a(v) stay EXACT
    INTEGERS (decimal(38,0)) for the whole unrolled run — integer
    sums are order-free, so unlike :func:`pagerank` no ordered fold
    is needed anywhere; normalization by the exact L1 totals happens
    ONCE at the end as a single double division per node.  Per
    half-step: one shuffle join of scores onto edges + one hash
    aggregate — a celebrity hub is just a big combiner group, never a
    per-node array.  Magnitudes grow ≤ degree^(2·iters), so the
    default 2 rounds stay inside the 38-digit window for graphs with
    max degree < ~10⁹ (raise ``iters`` only with degree bounds in
    hand).  Returns (node, hub, auth) with L1-normalized doubles."""
    if iters < 1:
        raise ValueError(f"hits: iters must be >= 1 (got {iters})")
    if iters > 18:
        # decimal(38,0) holds degree^(2*iters); even degree-100 graphs
        # overflow past 19 rounds — refuse rather than surface a
        # mid-plan decimal overflow as NULL scores
        raise ValueError(
            f"hits: iters={iters} exceeds the exact-decimal bound "
            "(scores grow <= degree^(2*iters) and must fit "
            "decimal(38,0)); use <= 18 and check your max degree"
        )
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.distinct().localCheckpoint()
    nodes = e.select(F.col("src").alias("node")).unionByName(
        e.select(F.col("dst").alias("node"))
    ).distinct()
    h = nodes.select("node", F.lit(1).cast("decimal(38,0)").alias("score"))
    a = None
    for _ in range(iters):
        a = (
            e.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("score").alias("score"))
        )
        h = (
            e.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("score").alias("score"))
        )
    h_tot = h.agg(F.sum("score").alias("_th"))
    a_tot = a.agg(F.sum("score").alias("_ta"))
    scored = (
        nodes.join(h.withColumnRenamed("score", "_h"), "node", "left")
        .join(a.withColumnRenamed("score", "_a"), "node", "left")
        .crossJoin(F.broadcast(h_tot))
        .crossJoin(F.broadcast(a_tot))
    )
    return scored.select(
        "node",
        (
            F.coalesce(F.col("_h"), F.lit(0).cast("decimal(38,0)")).cast("double")
            / F.col("_th").cast("double")
        ).alias("hub"),
        (
            F.coalesce(F.col("_a"), F.lit(0).cast("decimal(38,0)")).cast("double")
            / F.col("_ta").cast("double")
        ).alias("auth"),
    )


def distinct_ngrams(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    orders: tuple = (1, 2, 3),
    gram_counts: "Optional[dict]" = None,
) -> DataFrame:
    """Corpus n-gram diversity (the "distinct-n" generation metric):
    for each n, the number of distinct token n-grams, the total
    occurrence count, and their ratio — low distinct-2/3 flags
    templated or degenerate text before it trains a model.

    Tokenization and n-gram semantics are EXACTLY
    ``dedup.shingle_rows`` (normalized tokens, window-lead grams,
    short docs contribute their whole text once), so the metric is
    consistent with the dedup family's shingles.  One narrow
    per-order scan → one (order, gram) hash collapse → one k-bounded
    final aggregate; counts are exact integers, the ratio one double
    division.  Output per order: (n, total_ngrams, distinct_ngrams,
    distinct_ratio)."""
    from csp_gateway_spark.operators.dedup import shingle_rows

    # per-order gram-count frames: either injected ((_s, _c) tables
    # with identical shingle semantics — grouping per order is
    # independent, so per-leg aggregates union to the same totals as
    # the original single union-then-groupBy) or built from
    # shingle_rows as before
    per_order = None
    for n in orders:
        pre = (gram_counts or {}).get(int(n))
        if pre is None:
            pre = (
                shingle_rows(docs, text_col=text_col, id_col=id_col, k=int(n))
                .groupBy("_s")
                .agg(F.count(F.lit(1)).alias("_c"))
            )
        leg = pre.agg(
            F.sum("_c").cast("long").alias("total_ngrams"),
            F.count(F.lit(1)).alias("distinct_ngrams"),
        ).select(F.lit(int(n)).alias("_n"), "total_ngrams", "distinct_ngrams")
        per_order = leg if per_order is None else per_order.unionByName(leg)
    out = per_order
    return out.select(
        F.col("_n").alias("n"),
        "total_ngrams",
        "distinct_ngrams",
        (
            F.col("distinct_ngrams").cast("double")
            / F.col("total_ngrams").cast("double")
        ).alias("distinct_ratio"),
    )


def degree_assortativity(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    directed: bool = False,
) -> DataFrame:
    """Degree assortativity of a graph: the Pearson correlation of
    (deg(src), deg(dst)) over the (symmetrized) edge list — positive
    means hubs link to hubs (a template-cluster smell on similarity
    graphs), negative means hub-and-spoke.

    One degree aggregate per side, two broadcast-free equi-joins of
    the edge list against the k-bounded degree tables (shuffle-keyed
    on the node — a celebrity node is one big join group, never an
    array), and exact integer moments: degrees and their products
    accumulate in decimal(38,0) (bounded for graphs ≤ ~10¹² edges),
    so r is one closed-form double.  Output: one row (n_edges, r).

    Directed semantics (networkx ``degree_assortativity_coefficient``
    with default out/in): correlate OUT-degree of the source with
    IN-degree of the destination.  Every edge's src has out-degree
    ≥ 1 and dst has in-degree ≥ 1 by construction, so the two
    equi-joins are lossless — no edge can drop.  Undirected keeps the
    symmetrized single-degree-table plan."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.distinct().localCheckpoint(eager=False)
    deg_out = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    if directed:
        deg_in = e.groupBy("dst").agg(F.count(F.lit(1)).alias("_deg"))
    else:
        # symmetrized edge list: out-degree IS the degree; dst's table
        # is the same frame re-keyed (no second aggregate)
        deg_in = deg_out.select(F.col("src").alias("dst"), "_deg")
    with_src = e.join(deg_out, "src").select(
        "dst", F.col("_deg").alias("_ds")
    )
    both = with_src.join(
        deg_in.withColumnRenamed("_deg", "_dd"),
        "dst",
    )
    ds13 = F.col("_ds").cast("decimal(13,0)")
    dd13 = F.col("_dd").cast("decimal(13,0)")
    sums = both.agg(
        F.count(F.lit(1)).alias("_m"),
        F.sum(F.col("_ds").cast("decimal(38,0)")).alias("_sa"),
        F.sum(F.col("_dd").cast("decimal(38,0)")).alias("_sb"),
        F.sum((ds13 * ds13).cast("decimal(38,0)")).alias("_saa"),
        F.sum((dd13 * dd13).cast("decimal(38,0)")).alias("_sbb"),
        F.sum((ds13 * dd13).cast("decimal(38,0)")).alias("_sab"),
    )
    m = F.col("_m").cast("double")
    sa = F.col("_sa").cast("double")
    sb = F.col("_sb").cast("double")
    cov = m * F.col("_sab").cast("double") - sa * sb
    va = m * F.col("_saa").cast("double") - sa * sa
    vb = m * F.col("_sbb").cast("double") - sb * sb
    r = F.when(va * vb > 0, cov / F.sqrt(va * vb))
    return sums.select(F.col("_m").cast("long").alias("n_edges"), r.alias("r"))


def source_diversity(
    docs: DataFrame,
    group_col: str = "source",
) -> DataFrame:
    """Diversity profile of a categorical corpus dimension (source,
    language, domain): Shannon entropy H = −Σp·ln p, Simpson
    concentration D = Σp², and their effective-source numbers
    exp(H) and 1/D — the "is this corpus dominated by one crawl?"
    gate before mixing.

    One grouped count, then the k-bounded share terms fold
    group-sorted with pinned FP order (the ``anova_f`` discipline) so
    both indices are engine-identical doubles over exact counts.
    Output: one row (n_docs, k_groups, shannon, simpson,
    eff_shannon, eff_simpson)."""
    per = docs.groupBy(F.col(group_col).alias("_g")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    tot = per.agg(F.sum("_c").alias("_n"), F.count(F.lit(1)).alias("_k"))
    terms = per.crossJoin(F.broadcast(tot)).select(
        "_g",
        "_n",
        "_k",
        (F.col("_c").cast("double") / F.col("_n").cast("double")).alias("_p"),
    )
    from csp_gateway_spark.operators.analytics import _capped_packed

    packed = terms.agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_g", "_p"))),
            "source_diversity",
        ).alias("_z"),
        F.max("_n").alias("_n"),
        F.max("_k").alias("_k"),
    )

    def fold(expr):
        return F.aggregate(
            F.transform(F.col("_z"), expr), F.lit(0.0), lambda a, x: a + x
        )

    shannon = -fold(lambda s: F.when(s["_p"] > 0, s["_p"] * F.log(s["_p"])).otherwise(0.0))
    simpson = fold(lambda s: s["_p"] * s["_p"])
    return packed.select(
        F.col("_n").cast("long").alias("n_docs"),
        F.col("_k").cast("long").alias("k_groups"),
        shannon.alias("shannon"),
        simpson.alias("simpson"),
        F.exp(shannon).alias("eff_shannon"),
        (F.lit(1.0) / simpson).alias("eff_simpson"),
    )


def clustering_coefficient(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Clustering coefficients of an undirected graph: the GLOBAL
    coefficient 3·triangles/wedges and the AVERAGE local coefficient
    mean_v 2·tri(v)/(deg(v)(deg(v)−1)) over nodes of degree ≥ 2 —
    "how clique-like are the neighborhoods" (template families close
    their triangles; chains of borderline near-dups do not).

    Same ordered wedge-close as :func:`triangle_count` (a<b<c counts
    each triangle once; join cost Σdeg² bounded by the blocking
    generator).  Triangle counts and degrees are exact integers;
    the node-bounded local-cc terms fold node-sorted with pinned FP
    order.  Output: one row (n_nodes, n_triangles, global_cc,
    avg_local_cc)."""
    from csp_gateway_spark.operators.analytics import _capped_packed

    e = edges.select(
        F.least(F.col(a_col), F.col(b_col)).alias("a"),
        F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
    ).filter(F.col("a") != F.col("b")).distinct().localCheckpoint(eager=False)
    bc = e.select(F.col("a").alias("_b"), F.col("b").alias("c"))
    wedges = e.join(bc, F.col("b") == F.col("_b")).select("a", "b", "c")
    close = e.select(F.col("a").alias("_ca"), F.col("b").alias("_cc"))
    tri = wedges.join(
        close, (F.col("a") == F.col("_ca")) & (F.col("c") == F.col("_cc"))
    ).select("a", "b", "c")
    tri_per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_t"))
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    per_node = deg.join(tri_per_node, "node", "left").select(
        "node",
        "_d",
        F.coalesce(F.col("_t"), F.lit(0)).alias("_t"),
    )
    dd = F.col("_d").cast("double")
    local = F.when(
        F.col("_d") >= 2,
        F.lit(2.0) * F.col("_t").cast("double") / (dd * (dd - F.lit(1.0))),
    )
    terms = per_node.select("node", "_d", "_t", local.alias("_cc"))
    w19 = F.col("_d").cast("decimal(19,0)")
    packed = terms.agg(
        _capped_packed(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("_cc").isNotNull(), F.struct("node", "_cc"))
                )
            ),
            "clustering_coefficient",
        ).alias("_z"),
        F.count(F.lit(1)).alias("_nn"),
        F.sum((F.col("_t").cast("decimal(19,0)")).cast("decimal(38,0)")).alias("_t3"),
        F.sum(
            F.when(
                F.col("_d") >= 2,
                (w19 * (w19 - F.lit(1).cast("decimal(2,0)"))).cast("decimal(38,0)"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("_w2"),
        F.sum((F.col("_cc").isNotNull()).cast("long")).alias("_nd2"),
    )
    ccsum = F.aggregate(
        F.transform(F.col("_z"), lambda s: s["_cc"]),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    # Σ_v tri(v) = 3·triangles; Σ_v deg(deg−1) = 2·wedges, so the
    # transitivity 3·triangles/wedges = 2·Σtri(v)/Σdeg(deg−1)
    global_cc = F.when(
        F.col("_w2") > 0,
        F.lit(2.0) * F.col("_t3").cast("double") / F.col("_w2").cast("double"),
    )
    avg_local = F.when(
        F.col("_nd2") > 0, ccsum / F.col("_nd2").cast("double")
    )
    return packed.select(
        F.col("_nn").cast("long").alias("n_nodes"),
        (F.col("_t3") / F.lit(3).cast("decimal(2,0)")).cast("long").alias("n_triangles"),
        global_cc.alias("global_cc"),
        avg_local.alias("avg_local_cc"),
    )


def transition_entropy(
    transitions: DataFrame,
    cur_col: str = "cur",
    nxt_col: str = "nxt",
    n_col: str = "n",
) -> DataFrame:
    """Conditional entropy of a first-order Markov transition table
    (the :func:`windows.event_transitions` output): H(next|cur) =
    −Σ p(cur,nxt)·ln p(nxt|cur) in nats, plus the effective branching
    factor exp(H) — "how predictable is the next event".

    The table is state-space-bounded, so the entropy terms fold
    (cur, nxt)-sorted in one packed row with pinned FP order over
    exact integer counts.  Output: one row (n_transitions, k_states,
    cond_entropy, eff_branching)."""
    from csp_gateway_spark.operators.analytics import _capped_packed

    counts = transitions.select(
        F.col(cur_col).alias("_c"), F.col(nxt_col).alias("_x"),
        F.col(n_col).cast("long").alias("_n"),
    )
    per_cur = counts.groupBy("_c").agg(F.sum("_n").alias("_tc"))
    tot = counts.agg(
        F.sum("_n").alias("_t"), F.countDistinct("_c").alias("_k")
    )
    terms = (
        counts.join(F.broadcast(per_cur), "_c")
        .crossJoin(F.broadcast(tot))
        .select(
            "_c",
            "_x",
            "_t",
            "_k",
            (
                -(F.col("_n").cast("double") / F.col("_t").cast("double"))
                * F.log(
                    F.col("_n").cast("double") / F.col("_tc").cast("double")
                )
            ).alias("_h"),
        )
    )
    packed = terms.agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_c", "_x", "_h"))),
            "transition_entropy",
        ).alias("_z"),
        F.max("_t").alias("_t"),
        F.max("_k").alias("_k"),
    )
    h = F.aggregate(
        F.transform(F.col("_z"), lambda s: s["_h"]),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    return packed.select(
        F.col("_t").cast("long").alias("n_transitions"),
        F.col("_k").cast("long").alias("k_states"),
        h.alias("cond_entropy"),
        F.exp(h).alias("eff_branching"),
    )


def kn_bigram_entropy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
    cells: "Optional[DataFrame]" = None,
) -> DataFrame:
    """Corpus cross-entropy under an interpolated Kneser-Ney bigram
    LM trained on the corpus itself — the smoothing-quality
    counterpart of the stupid-backoff scorer (``lm_score_backoff``):
    KN discounts every bigram count by a fixed D and redistributes
    the held-out mass through CONTINUATION counts
    (p_cont(w) ∝ #distinct left-contexts of w), the classic fix for
    "Francisco is frequent but only follows San".

        p(w|v) = max(c(vw)−D, 0)/c(v·) + D·N₁₊(v·)/c(v·) · p_cont(w)

    Everything reduces to exact integer count tables (bigram cells,
    left/right continuation counts) joined on the cell key; the
    per-cell log terms fold (v, w)-sorted in one cap-guarded packed
    row, so H and perplexity are engine-identical.  Output: one row
    (n_bigrams, n_cells, cross_entropy, perplexity).

    ``cells`` optionally injects a prebuilt corpus bigram count table
    (``_v``, ``_w``, ``_c``) — the same (w1, w2, count) multiset
    ``bigram_rows``/``lm_score`` build (shared upstream; r14)."""
    from csp_gateway_spark.operators.analytics import _capped_packed
    from csp_gateway_spark.operators.dedup import shingle_rows

    d = float(discount)
    if cells is None:
        big = shingle_rows(docs, text_col=text_col, id_col=id_col, k=2).select(
            F.split(F.col("_s"), " ").alias("_p")
        ).filter(F.size("_p") == 2).select(
            F.col("_p")[0].alias("_v"), F.col("_p")[1].alias("_w")
        )
        cells = big.groupBy("_v", "_w").agg(F.count(F.lit(1)).alias("_c"))
    left = cells.groupBy("_v").agg(
        F.sum("_c").alias("_cv"), F.count(F.lit(1)).alias("_n1v")
    )
    right = cells.groupBy("_w").agg(F.count(F.lit(1)).alias("_n1w"))
    tot = cells.agg(
        F.sum("_c").alias("_nb"), F.count(F.lit(1)).alias("_ncells")
    )
    joined = (
        cells.join(left, "_v")
        .join(right, "_w")
        .crossJoin(F.broadcast(tot))
    )
    cv = F.col("_cv").cast("double")
    p = (
        F.greatest(F.col("_c").cast("double") - F.lit(d), F.lit(0.0)) / cv
        + F.lit(d)
        * F.col("_n1v").cast("double")
        / cv
        * (F.col("_n1w").cast("double") / F.col("_ncells").cast("double"))
    )
    terms = joined.select(
        "_v",
        "_w",
        "_nb",
        "_ncells",
        (-F.col("_c").cast("double") * F.log(p)).alias("_h"),
    )
    packed = terms.agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_v", "_w", "_h"))),
            "kn_bigram_entropy",
        ).alias("_z"),
        F.max("_nb").alias("_nb"),
        F.max("_ncells").alias("_ncells"),
    )
    hsum = F.aggregate(
        F.transform(F.col("_z"), lambda s: s["_h"]),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    h = hsum / F.col("_nb").cast("double")
    return packed.select(
        F.col("_nb").cast("long").alias("n_bigrams"),
        F.col("_ncells").cast("long").alias("n_cells"),
        h.alias("cross_entropy"),
        F.exp(h).alias("perplexity"),
    )


def mattr_diversity(
    df: DataFrame,
    window: int = 50,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Moving-Average Type-Token Ratio (MATTR, Covington & McFall
    2010): lexical diversity as distinct-tokens / window-length
    averaged over every sliding token window — the length-robust
    replacement for raw TTR (which collapses as documents grow) used
    to screen repetitive/templated text in training-data curation.

    Pooled per ``group_col``: mattr = Σ distinct-in-window / Σ
    window-length over all windows of all docs (a ratio of two exact
    integers — engine-exact; a macro-average of per-doc doubles would
    be FP-order-sensitive).  Docs shorter than ``window`` contribute
    their single whole-doc window (length n).

    The plan never materializes a window: position p is distinct in
    window [i, i+w) iff its PREVIOUS occurrence falls before i, so
    Σ_windows distinct = Σ_p #{valid starts i > prev_occ(p)} — a
    CLOSED FORM per token position.  prev_occ is one lag window
    partitioned by (doc, token) — the narrow shuffle shingle_rows
    uses — then everything is a map-side-combined integer aggregate:
    O(tokens) total work instead of O(tokens × window) per doc.
    Output per group: (group, n_docs, n_windows, mattr)."""
    from pyspark.sql.window import Window

    w = int(window)
    if w < 1:
        raise ValueError(f"mattr_diversity: window must be >= 1, got {w}")
    # materialize the token array in its own projection first: size()
    # and posexplode() in one select would each re-run the tokenizer
    # regex (no common-subexpression elimination across generators —
    # the shingles lesson)
    tok_rows_df = df.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_g"),
        norm_tokens(F.col(text_col)).alias("_tk"),
    )
    pos_rows = tok_rows_df.select(
        "_id",
        "_g",
        F.size("_tk").alias("_n"),
        F.posexplode("_tk").alias("_p0", "_t"),
    ).select("_id", "_g", "_n", (F.col("_p0") + 1).alias("_p"), "_t")
    prev = F.lag("_p").over(Window.partitionBy("_id", "_t").orderBy("_p"))
    marked = pos_rows.withColumn("_prev", F.coalesce(prev, F.lit(0)))
    n = F.col("_n")
    p = F.col("_p")
    long_doc = n >= F.lit(w)
    # valid starts i ∈ [max(1, p−w+1, prev+1), min(p, n−w+1)]
    lo = F.greatest(F.lit(1), p - F.lit(w - 1), F.col("_prev") + 1)
    hi = F.least(p, n - F.lit(w - 1))
    per_pos = F.when(
        long_doc, F.greatest(F.lit(0), hi - lo + 1)
    ).otherwise(
        # short doc: one whole-doc window; p counted iff first occurrence
        (F.col("_prev") == 0).cast("int")
    ).cast("long")
    # group sums in ONE pass over the position rows (the tokenize is
    # the expensive stage — never run it twice): per-position distinct
    # contributions sum directly; window/length sums divide each doc's
    # per-doc constant by its token count n (every doc contributes n
    # position rows).  Zero-token docs have no position rows, so
    # n_docs comes from a cheap non-tokenizing count joined back.
    nw_doc = F.when(long_doc, n - F.lit(w - 1)).otherwise(F.lit(1))
    len_doc = F.when(long_doc, (n - F.lit(w - 1)) * F.lit(w)).otherwise(n)
    first_row = F.col("_p") == 1  # exactly one position row per non-empty doc
    sums = marked.groupBy("_g").agg(
        F.sum(per_pos).cast("long").alias("_dist"),
        F.sum(F.when(first_row, nw_doc).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_windows"),
        F.sum(F.when(first_row, len_doc).otherwise(F.lit(0)))
        .cast("long")
        .alias("_len"),
    )
    all_docs = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return all_docs.join(sums, "_g", "left").select(
        F.col("_g").alias(group_col),
        "n_docs",
        F.coalesce(F.col("n_windows"), F.lit(0)).alias("n_windows"),
        F.when(
            F.coalesce(F.col("_len"), F.lit(0)) > 0,
            F.coalesce(F.col("_dist"), F.lit(0)).cast("double")
            / F.col("_len").cast("double"),
        ).alias("mattr"),
    )


# ---------------------------------------------------------------------------
# Wave 39 — unsupervised keyword extraction: RAKE and TextRank-lite.
# Additive SURVEY §7.8 set; companions of pmi_collocations / tf_idf
# for tokenizer-vocabulary and corpus-summarization signals.
# ---------------------------------------------------------------------------

def rake_phrases(
    df: DataFrame,
    stopwords: list[str] | None = None,
    max_phrase_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate-phrase rows for RAKE: each document's normalized
    token stream split at stopword boundaries, one row per phrase
    OCCURRENCE with its word count.  Phrases longer than
    ``max_phrase_len`` words are dropped (RAKE's standard cap — long
    runs between stopwords are noise, and the cap bounds the
    downstream explode).  All-JVM expressions: one transform marks
    stopword tokens, one split recovers the phrase runs."""
    from csp_gateway_spark.operators.text import EN_STOPWORDS

    stops = F.array(
        *[F.lit(w) for w in (stopwords or EN_STOPWORDS)]
    )
    toks = norm_tokens(F.col(text_col))
    marked = F.transform(
        toks,
        lambda t: F.when(F.array_contains(stops, t), F.lit("|")).otherwise(t),
    )
    joined = F.array_join(marked, " ")
    phrases = F.filter(
        F.transform(
            F.split(joined, r"\|"),
            lambda p: F.trim(F.regexp_replace(p, r"\s+", " ")),
        ),
        lambda p: p != F.lit(""),
    )
    occ = df.select(
        F.col(id_col), F.explode(phrases).alias("phrase")
    ).withColumn("plen", F.size(F.split(F.col("phrase"), " ")))
    return occ.filter(F.col("plen") <= int(max_phrase_len))


def rake_keywords(
    df: DataFrame,
    topk: int = 50,
    stopwords: list[str] | None = None,
    max_phrase_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    occ: "Optional[DataFrame]" = None,
) -> DataFrame:
    """RAKE (Rapid Automatic Keyword Extraction, Rose et al. 2010)
    over the corpus: candidate phrases are stopword-delimited token
    runs; word score = deg(w)/freq(w) where deg sums the lengths of
    every phrase occurrence containing w; phrase score sums its
    member-word scores (duplicates count per occurrence).  Returns
    the top-k phrases by (score, count, phrase) with their corpus
    occurrence counts.

    Plan: one scan → phrase explode (bounded by ``max_phrase_len``),
    ONE word-stats shuffle (freq/deg map-combined), one distinct-
    phrase explode joined against the word table, TakeOrdered(topk)
    — never a global sort; the scores are exact-integer ratios
    summed per phrase (≤ max_phrase_len doubles)."""
    if occ is None:
        occ = rake_phrases(df, stopwords, max_phrase_len, text_col, id_col)
    else:
        # pre-built UNCAPPED (id, phrase, plen) table: the length cap
        # is a pure filter over the same rows
        occ = occ.filter(F.col("plen") <= int(max_phrase_len))
    words = occ.select(
        "phrase", "plen", F.explode(F.split(F.col("phrase"), " ")).alias("w")
    )
    wstats = words.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("_freq"),
        F.sum("plen").cast("long").alias("_deg"),
    )
    pcounts = occ.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    pwords = pcounts.select(
        "phrase", F.explode(F.split(F.col("phrase"), " ")).alias("w")
    )
    pscore = (
        pwords.join(wstats, "w")
        .groupBy("phrase")
        .agg(
            F.sum(
                F.col("_deg").cast("double") / F.col("_freq").cast("double")
            ).alias("score")
        )
    )
    # rank on the 6-dp ROUNDED score: the phrase score is a sum of
    # ≤ max_phrase_len doubles whose accumulation order differs
    # between engines, so structurally-tied phrases could straddle
    # the top-k boundary differently; rounding collapses ulp drift
    # and the (n, phrase) tiebreak then decides identically
    return (
        pcounts.join(pscore, "phrase")
        .orderBy(
            F.round(F.col("score"), 6).desc(), F.desc("n"), F.asc("phrase")
        )
        .limit(int(topk))
    )


def textrank_keywords(
    df: DataFrame,
    topk: int = 50,
    iters: int = 2,
    damping: float = 0.85,
    stopwords: list[str] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    occ: "Optional[DataFrame]" = None,
) -> DataFrame:
    """TextRank-lite (Mihalcea & Tarau 2004) keyword scores: a
    PageRank power iteration over the UNDIRECTED co-occurrence graph
    of adjacent non-stopword tokens (window 2 within the stopword-
    delimited runs), ``iters`` fixed iterations from the uniform
    start, damping d.  Returns the top-k words by final rank.

    Plan: edges from one bigram explode (both directions — the
    undirected walk), out-degrees from one count shuffle, each
    iteration ONE join + ONE aggregate on the bounded vocabulary
    frame; N (vocab size) rides along as a broadcast 1-row aggregate.
    Iteration count is a small constant, so the lineage is flat and
    every intermediate is vocabulary-bounded."""
    iters = int(iters)
    if iters < 1:
        raise ValueError("textrank_keywords: iters must be >= 1")
    if occ is None:
        occ = rake_phrases(df, stopwords, 1_000_000, text_col, id_col)
    # else: pre-built uncapped phrase table — the 1e6 cap is a no-op
    # adjacent pairs from the phrase array itself (scan-local — no
    # row ids, no self-join): transform positions 1..len−1 into
    # (a[i−1], a[i]) structs and explode
    runs = occ.select(F.split(F.col("phrase"), " ").alias("a")).filter(
        F.size(F.col("a")) >= 2
    )
    pairs = runs.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(a) - 1),"
                " i -> struct(a[i - 1] AS w, a[i] AS w2))"
            )
        ).alias("p")
    ).select("p.w", "p.w2").filter(F.col("w") != F.col("w2"))
    edges = pairs.select(F.col("w").alias("src"), F.col("w2").alias("dst")).unionByName(
        pairs.select(F.col("w2").alias("src"), F.col("w").alias("dst"))
    )
    edges = edges.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("double").alias("_wt")
    ).localCheckpoint(eager=False)
    outdeg = edges.groupBy("src").agg(F.sum("_wt").alias("_out"))
    nodes = outdeg.select(F.col("src").alias("w"), "_out")
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    d = float(damping)
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "w", "_out", "_n", (F.lit(1.0) / F.col("_n")).alias("_r")
    )
    for _ in range(iters):
        contrib = (
            ranks.select(F.col("w").alias("src"), (F.col("_r") / F.col("_out")).alias("_c"))
            .join(edges, "src")
            .groupBy(F.col("dst").alias("w"))
            .agg(F.sum(F.col("_c") * F.col("_wt")).alias("_in"))
        )
        ranks = (
            ranks.join(contrib, "w", "left")
            .select(
                "w", "_out", "_n",
                (
                    (F.lit(1.0) - F.lit(d)) / F.col("_n")
                    + F.lit(d) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("_r"),
            )
        )
    # rounded-rank ordering for the same engine-portability reason
    # as rake_keywords: symmetric nodes tie in real arithmetic but
    # drift in the last ulp per engine.  10 dp (not 6): ranks scale
    # like 1/|V| so 6 dp would collapse real distinctions, while ulp
    # drift (~1e−19) still sits 8 orders below the rounding boundary
    return (
        ranks.select("w", F.col("_r").alias("rank"))
        .orderBy(F.round(F.col("rank"), 10).desc(), F.asc("w"))
        .limit(int(topk))
    )
