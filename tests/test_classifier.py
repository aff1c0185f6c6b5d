"""Learned quality classifier (operators/classifier.py): distributed
logistic regression on hashed-TF features."""

import pytest
from pyspark.sql import functions as F

from csp_gateway_spark.operators.classifier import lr_score, lr_train


@pytest.fixture(scope="module")
def labeled_corpus(spark):
    good = [
        (i, "thorough reference article with careful structured prose", 1)
        for i in range(20)
    ]
    bad = [
        (100 + i, "click buy free offer now spam spam spam", 0) for i in range(20)
    ]
    return spark.createDataFrame(good + bad, "doc_id long, text string, y int")


@pytest.fixture(scope="module")
def feats(labeled_corpus):
    from csp_gateway_spark.operators.corpus import tf_hash_features

    return tf_hash_features(labeled_corpus, dim=64).withColumnRenamed("tf", "x")


def test_lr_learns_separation(labeled_corpus, feats):
    labels = labeled_corpus.select("doc_id", "y")
    w = lr_train(feats, labels, dim=64, iters=5)
    assert len(w) == 65  # dim weights + bias
    scores = {
        r["doc_id"]: r["score"]
        for r in lr_score(feats, w, labeled_corpus).collect()
    }
    good = [scores[i] for i in range(20)]
    bad = [scores[100 + i] for i in range(20)]
    assert min(good) > max(bad)  # perfectly separable vocabulary


def test_lr_train_partitioning_invariant(labeled_corpus, feats):
    labels = labeled_corpus.select("doc_id", "y")
    one = lr_train(feats.coalesce(1), labels.coalesce(1), dim=64, iters=3)
    many = lr_train(feats.repartition(16), labels.repartition(16), dim=64, iters=3)
    assert one == many  # fixed-point gradients: bit-identical weights


def test_lr_score_featureless_doc_gets_bias(spark, labeled_corpus, feats):
    labels = labeled_corpus.select("doc_id", "y")
    w = lr_train(feats, labels, dim=64, iters=2)
    import math

    extra = spark.createDataFrame([(999,)], "doc_id long")
    docs = labeled_corpus.select("doc_id").unionByName(extra)
    scores = {r["doc_id"]: r["score"] for r in lr_score(feats, w, docs).collect()}
    expect = 1.0 / (1.0 + math.exp(-w[-1]))
    assert scores[999] == pytest.approx(expect, abs=1e-12)


def _rowwise_lr(features, labels, dim, iters, lr=0.5):
    """Row-wise reference: every label row is one example, with the
    same fixed-point gradients and bucket-ordered margins."""
    import math

    from csp_gateway_spark.operators.classifier import _SCALE

    w, bias = [0.0] * dim, 0.0
    for it in range(iters):
        g, gb = [0] * dim, 0
        for doc, y in labels:
            xs = sorted(features.get(doc, []))
            if it == 0:
                r = 0.5 - y
            else:
                m = sum(x * w[b] for b, x in xs) + bias
                r = round(1.0 / (1.0 + math.exp(-m)) - y, 12)
            gb += math.floor(r * _SCALE)
            for b, x in xs:
                g[b] += math.floor(r * x * _SCALE)
        n = len(labels)
        w = [w[b] - lr * (g[b] / (n * _SCALE)) for b in range(dim)]
        bias -= lr * (gb / (n * _SCALE))
    return w + [bias]


@pytest.mark.parametrize("iters", [1, 2])
def test_lr_train_repeated_label_ids(spark, iters):
    """An id labelled twice is two examples: its bias rows are not
    multiplied by its own label count (n = 4 label rows, not 6)."""
    features = {1: [(0, 1)], 2: [(1, 2)], 3: [(0, 1)]}
    labels = [(1, 1), (1, 1), (2, 0), (3, 0)]
    fdf = spark.createDataFrame(
        [(d, b, x) for d, xs in features.items() for b, x in xs],
        "doc_id long, bucket int, x long",
    )
    ldf = spark.createDataFrame(labels, "doc_id long, y int")
    got = lr_train(fdf, ldf, dim=2, iters=iters)
    want = _rowwise_lr(features, labels, dim=2, iters=iters)
    assert got == pytest.approx(want, abs=1e-12)
    if iters == 1:
        assert got == pytest.approx([0.0625, -0.125, 0.0], abs=1e-12)


def test_lr_empty_labels_raise(spark, feats):
    empty = spark.createDataFrame([], "doc_id long, y int")
    with pytest.raises(ValueError, match="empty"):
        lr_train(feats, empty, dim=64)


def test_lr_zero_iters_raise(labeled_corpus, feats):
    labels = labeled_corpus.select("doc_id", "y")
    with pytest.raises(ValueError, match="iters"):
        lr_train(feats, labels, dim=64, iters=0)


def test_lr_score_expr_matches_sparse_face(labeled_corpus, feats):
    """The stateless expression face scores ≈ the sparse-join face
    (same value, different float fold order)."""
    from csp_gateway_spark.operators.classifier import lr_score_expr

    labels = labeled_corpus.select("doc_id", "y")
    w = lr_train(feats, labels, dim=64, iters=3)
    dense = {
        r["doc_id"]: r["s"]
        for r in labeled_corpus.select(
            "doc_id", lr_score_expr(w).alias("s")
        ).collect()
    }
    sparse = {r["doc_id"]: r["score"] for r in lr_score(feats, w, labeled_corpus).collect()}
    for k in sparse:
        assert dense[k] == pytest.approx(sparse[k], rel=1e-9)


def test_lr_score_expr_streaming_matches_batch(spark, tmp_path, labeled_corpus, feats):
    """The scorer runs unchanged in a streaming projection and emits
    the same scores the batch expression computes."""
    import json

    from csp_gateway_spark.operators.classifier import lr_score_expr

    labels = labeled_corpus.select("doc_id", "y")
    w = lr_train(feats, labels, dim=64, iters=2)
    src = tmp_path / "lrstream"
    src.mkdir()
    texts = [(r["doc_id"], r["text"]) for r in labeled_corpus.collect()][:10]
    with open(src / "b.json", "w") as f:
        for did, txt in texts:
            f.write(json.dumps({"doc_id": did, "text": txt}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    got = []
    q = (
        stream.select("doc_id", lr_score_expr(w).alias("s"))
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, _i: got.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_lr"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    batch = {
        r["doc_id"]: r["s"]
        for r in labeled_corpus.limit(10).select("doc_id", lr_score_expr(w).alias("s")).collect()
    }
    assert {r["doc_id"]: r["s"] for r in got} == batch  # bit-identical


def test_calibration_bins_rates(spark):
    from csp_gateway_spark.operators.classifier import calibration_bins

    scores = spark.createDataFrame(
        [(1, 0.05), (2, 0.07), (3, 0.95), (4, 0.99), (5, 1.0)],
        "doc_id long, score double",
    )
    labels = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, 1), (5, 0)], "doc_id long, y int"
    )
    out = {r.bin: r for r in calibration_bins(scores, labels).collect()}
    assert out[0].n == 2 and out[0].n_pos == 0 and out[0].pos_rate == 0.0
    # score 1.0 clamps into bin 9
    assert out[9].n == 3 and out[9].n_pos == 2
    assert abs(out[9].pos_rate - 2 / 3) < 1e-12


def test_pr_curve_manual(spark):
    from decimal import Decimal

    from csp_gateway_spark.operators.classifier import pr_curve

    rows = [(0.9, True), (0.8, True), (0.7, False), (0.3, True), (0.1, False)]
    df = spark.createDataFrame(rows, "score double, label boolean")
    thr = spark.createDataFrame(
        [(Decimal("0.5"),), (Decimal("0.75"),)], "t decimal(7,3)"
    )
    out = {r.t: r for r in pr_curve(df, "score", "label", thr).collect()}
    r5 = out[0.5]
    assert (r5.tp, r5.fp, r5.fn) == (2, 1, 1)
    assert abs(r5.precision - 2 / 3) < 1e-12 and abs(r5.recall - 2 / 3) < 1e-12
    r75 = out[0.75]
    assert (r75.tp, r75.fp, r75.fn) == (2, 0, 1)


def test_pr_curve_threshold_above_all_buckets(spark):
    """A threshold with no score bucket at/above it must still appear:
    tp=0/fp=0/recall=0, precision NULL (undefined 0/0)."""
    from decimal import Decimal

    from csp_gateway_spark.operators.classifier import pr_curve

    rows = [(0.9, True), (0.8, True), (0.7, False), (0.3, True), (0.1, False)]
    df = spark.createDataFrame(rows, "score double, label boolean")
    thr = spark.createDataFrame(
        [(Decimal("0.5"),), (Decimal("0.95"),)], "t decimal(7,3)"
    )
    out = {r.t: r for r in pr_curve(df, "score", "label", thr).collect()}
    assert set(out) == {0.5, 0.95}
    r95 = out[0.95]
    assert (r95.tp, r95.fp, r95.fn) == (0, 0, 3)
    assert r95.precision is None and r95.recall == 0.0
