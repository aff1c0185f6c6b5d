"""Watermark semantics driven through a real streaming query: on-time
rows aggregate, watermark advance finalizes windows (append emission),
and a too-late row is dropped by the engine."""

import json

import pyspark.sql.functions as F
import pytest

import __spark_entry__ as entry
from csp_gateway_spark.streaming.event_time import windowed_counts
from tools.check import compare, duck_connect


def _drop(src, name, rows):
    with open(src / name, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_watermark_finalizes_and_drops_late(spark, tmp_path):
    src = tmp_path / "ev"
    src.mkdir()
    stream = spark.readStream.schema("ts timestamp, user string").json(str(src))
    agg = windowed_counts(stream, "ts", window="1 minute", watermark="10 seconds")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # two rows in the 10:00 window
        _drop(src, "b1.json", [
            {"ts": "2026-01-01T10:00:05", "user": "a"},
            {"ts": "2026-01-01T10:00:20", "user": "b"},
        ])
        q.processAllAvailable()
        # append mode: window not finalized yet (watermark hasn't passed)
        assert spark.table("win_counts").count() == 0

        # event at 10:05 advances the watermark past 10:01 -> finalize
        _drop(src, "b2.json", [{"ts": "2026-01-01T10:05:00", "user": "c"}])
        q.processAllAvailable()
        rows = {str(r.win_start): r.n for r in spark.table("win_counts").collect()}
        assert rows.get("2026-01-01 10:00:00") == 2

        # a LATE row for the already-finalized 10:00 window: dropped
        _drop(src, "b3.json", [{"ts": "2026-01-01T10:00:30", "user": "late"}])
        # plus a fresh row far ahead to force another finalization round
        _drop(src, "b4.json", [{"ts": "2026-01-01T10:20:00", "user": "d"}])
        q.processAllAvailable()
        rows = {str(r.win_start): r.n for r in spark.table("win_counts").collect()}
        assert rows["2026-01-01 10:00:00"] == 2  # late row did NOT bump the count
        assert rows.get("2026-01-01 10:05:00") == 1
    finally:
        q.stop()


def test_streaming_session_windows(spark, tmp_path):
    """Sessions merge events within the gap and split across it;
    watermark advance finalizes closed sessions."""
    from csp_gateway_spark.streaming.event_time import session_counts

    src = tmp_path / "sess"
    src.mkdir()
    stream = spark.readStream.schema("ts timestamp, user string").json(str(src))
    agg = session_counts(stream, "ts", ["user"], gap="30 seconds", watermark="10 seconds")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        _drop(src, "b1.json", [
            {"ts": "2026-01-01T10:00:00", "user": "a"},
            {"ts": "2026-01-01T10:00:20", "user": "a"},   # same session (20s gap)
            {"ts": "2026-01-01T10:02:00", "user": "a"},   # new session (>30s)
        ])
        _drop(src, "b2.json", [{"ts": "2026-01-01T10:10:00", "user": "z"}])  # advance watermark
        q.processAllAvailable()
        rows = {(str(r.sess_start), r.user): r.n for r in spark.table("sess").collect()}
        assert rows[("2026-01-01 10:00:00", "a")] == 2  # merged session
        assert rows[("2026-01-01 10:02:00", "a")] == 1  # split session
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, tmp_path):
    """Purchase (left) attributes to views (right) of the same user
    within [0, 10 min] AFTER the purchase-relative lower bound; a view
    outside the interval never matches."""
    from csp_gateway_spark.streaming.joins import interval_join_stream

    lsrc, rsrc = tmp_path / "buy", tmp_path / "view"
    lsrc.mkdir(); rsrc.mkdir()
    buys = spark.readStream.schema("bts timestamp, user string, amt double").json(str(lsrc))
    views = spark.readStream.schema("vts timestamp, user string, page string").json(str(rsrc))
    # views in the 10 minutes BEFORE the purchase: lower=-10m, upper=0s
    joined = interval_join_stream(
        buys, views, key="user", left_ts="bts", right_ts="vts",
        lower="-10 minutes", upper="0 seconds",
    ).select("user", "bts", "vts", "page", "amt")
    q = (
        joined.writeStream.outputMode("append").format("memory")
        .queryName("attrib").option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    try:
        _drop(rsrc, "v1.json", [
            {"vts": "2026-01-01T10:00:00", "user": "a", "page": "p1"},   # in window
            {"vts": "2026-01-01T09:40:00", "user": "a", "page": "old"},  # too early
            {"vts": "2026-01-01T10:01:00", "user": "b", "page": "p2"},   # other user
        ])
        _drop(lsrc, "b1.json", [{"bts": "2026-01-01T10:05:00", "user": "a", "amt": 9.5}])
        q.processAllAvailable()
        rows = spark.table("attrib").collect()
        assert [(r.user, r.page) for r in rows] == [("a", "p1")]
    finally:
        q.stop()


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicate ids inside the watermark collapse to one row; a fresh
    id passes through (replay at-least-once -> exactly-once)."""
    from csp_gateway_spark.streaming.joins import dedup_stream

    src = tmp_path / "dd"
    src.mkdir()
    stream = spark.readStream.schema("ts timestamp, id string, v long").json(str(src))
    q = (
        dedup_stream(stream, ["id"], "ts", watermark="1 minute")
        .writeStream.outputMode("append").format("memory")
        .queryName("dd").option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    try:
        _drop(src, "b1.json", [
            {"ts": "2026-01-01T10:00:00", "id": "x", "v": 1},
            {"ts": "2026-01-01T10:00:05", "id": "x", "v": 2},  # dup within watermark
            {"ts": "2026-01-01T10:00:10", "id": "y", "v": 3},
        ])
        q.processAllAvailable()
        got = sorted((r.id, r.v) for r in spark.table("dd").collect())
        assert got == [("x", 1), ("y", 3)]
    finally:
        q.stop()


def test_streaming_lsh_pairs_match_batch(spark, tmp_path):
    """The streaming MinHash-LSH twin must produce exactly the batch
    candidate pair set on a replayed stream (VERDICT r3 #9): same
    signatures, same band keys (shared band_key expression), pair
    emission deduped across band re-fires."""
    from csp_gateway_spark.operators.dedup import minhash_lsh_pairs
    from csp_gateway_spark.streaming.dedup_stream import lsh_pair_stream

    docs = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # ~dup of 1
        (3, "completely different text about spark structured streaming state"),
        (4, "completely different text about spark structured streaming store"),  # ~dup of 3
        (5, "an unrelated document with its own unique vocabulary entirely"),
    ]
    batch_df = spark.createDataFrame(docs, "doc_id long, text string")
    batch_pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(batch_df, num_hashes=16, bands=8).collect()
    }
    assert batch_pairs, "fixture must produce at least one near-dup pair"

    src = tmp_path / "lsh"
    src.mkdir()
    _drop(src, "b1.json", [
        {"ts": f"2026-01-01T10:00:{i:02d}", "doc_id": i, "text": t} for i, t in docs
    ])
    stream = spark.readStream.schema("ts timestamp, doc_id long, text string").json(str(src))
    out = lsh_pair_stream(stream, num_hashes=16, bands=8, join_window="5 minutes")
    q = (
        out.writeStream.outputMode("append").format("memory").queryName("lsh_pairs")
        .option("checkpointLocation", str(tmp_path / "ck_lsh")).start()
    )
    try:
        q.processAllAvailable()
        stream_pairs = {(r.id_a, r.id_b) for r in spark.table("lsh_pairs").collect()}
        assert stream_pairs == batch_pairs
    finally:
        q.stop()


def test_streaming_semantic_pairs_match_batch(spark, tmp_path):
    """Streaming SemDeDup twin == batch pairwise core on a replayed
    stream: same inlined centroids (nearest_cell_expr tie-break matches
    ivf_assign), same rounded-cosine threshold."""
    from csp_gateway_spark.operators.similarity import (
        ivf_assign,
        sample_centroids,
        semantic_dup_pairs,
    )
    from csp_gateway_spark.streaming.dedup_stream import semantic_pair_stream

    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.02, 0.0, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.98, 0.0, 0.21]),    # near-dup of 3
        (5, [0.0, 0.0, 1.0, 0.0]),
    ]
    batch_df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cents = sample_centroids(batch_df, 2)
    assigned = ivf_assign(batch_df, cents)
    batch_pairs = {
        (r.id_a, r.id_b, r.cos)
        for r in semantic_dup_pairs(assigned, threshold=0.9).collect()
    }
    assert batch_pairs, "fixture must produce at least one semantic pair"

    src = tmp_path / "sem"
    src.mkdir()
    _drop(src, "b1.json", [
        {"ts": f"2026-01-01T10:00:{i:02d}", "vec_id": i, "embedding": v} for i, v in vecs
    ])
    stream = spark.readStream.schema(
        "ts timestamp, vec_id long, embedding array<double>"
    ).json(str(src))
    out = semantic_pair_stream(stream, cents.collect(), threshold=0.9)
    q = (
        out.writeStream.outputMode("append").format("memory").queryName("sem_pairs")
        .option("checkpointLocation", str(tmp_path / "ck_sem")).start()
    )
    try:
        q.processAllAvailable()
        stream_pairs = {
            (r.id_a, r.id_b, r.cos) for r in spark.table("sem_pairs").collect()
        }
        assert stream_pairs == batch_pairs
    finally:
        q.stop()


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """First-arrival exact dedup == batch min-id exact_dedup when
    arrival order follows id order (replayed changelog property)."""
    from csp_gateway_spark.operators.dedup import exact_dedup
    from csp_gateway_spark.streaming.dedup_stream import exact_dedup_stream

    docs = [
        (1, "The QUICK brown fox!"),
        (2, "the quick brown fox"),     # normalized dup of 1
        (3, "a different document"),
        (4, "A   different document"),  # normalized dup of 3
        (5, "unique text"),
    ]
    batch_df = spark.createDataFrame(docs, "doc_id long, text string")
    batch_keep = sorted(r.doc_id for r in exact_dedup(batch_df).collect())

    src = tmp_path / "xd"
    src.mkdir()
    stream = spark.readStream.schema("ts timestamp, doc_id long, text string").json(str(src))
    q = (
        exact_dedup_stream(stream)
        .writeStream.outputMode("append").format("memory").queryName("xdedup")
        .option("checkpointLocation", str(tmp_path / "ck_xd")).start()
    )
    try:
        # feed in id order, one file per doc -> deterministic first-arrival
        for i, (did, text) in enumerate(docs):
            _drop(src, f"b{i}.json", [{"ts": f"2026-01-01T10:00:{i:02d}", "doc_id": did, "text": text}])
            q.processAllAvailable()
        stream_keep = sorted(r.doc_id for r in spark.table("xdedup").collect())
        assert stream_keep == batch_keep == [1, 3, 5]
    finally:
        q.stop()


def test_streaming_bloom_decontaminate_matches_batch(spark, tmp_path):
    """Stateless stream-side Bloom probe flags exactly the docs the
    batch operator flags on the same data (same filter, same hashes)."""
    import json

    from csp_gateway_spark.operators.curation import bloom_decontaminate
    from csp_gateway_spark.streaming.dedup_stream import bloom_decontaminate_stream

    eval_set = spark.createDataFrame(
        [(100, "we test the quick brown fox jumps over everything tonight ok")],
        "doc_id long, text string",
    )
    docs = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "completely unrelated text about spark shuffles and joins"),
        (3, "another copy the quick brown fox jumps over everything"),
    ]
    batch_df = spark.createDataFrame(docs, "doc_id long, text string")
    want = {
        r["doc_id"]: r["contaminated"]
        for r in bloom_decontaminate(batch_df, eval_set, k=5).collect()
    }

    src = tmp_path / "bloomstream"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for did, text in docs:
            f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    flagged = bloom_decontaminate_stream(stream, eval_set, k=5)
    q = (
        flagged.writeStream.outputMode("append").format("memory")
        .queryName("bloom_stream")
        .option("checkpointLocation", str(tmp_path / "ck_bloom"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: r["contaminated"]
        for r in spark.sql("SELECT * FROM bloom_stream").collect()
    }
    assert got == want


def test_streaming_drift_matches_batch(spark, tmp_path):
    """A replayed corpus window must produce the SAME KL / OOV-rate
    the batch source_drift reports for each source (token-ordered fold
    both sides; reference distribution built offline from the corpus)."""
    import json

    from csp_gateway_spark.operators.corpus import source_drift
    from csp_gateway_spark.streaming.drift_stream import (
        drift_reference,
        drift_token_stream,
        finalize_drift,
    )

    docs = [
        (i, "alpha beta gamma delta epsilon " * 4, "a") for i in range(6)
    ] + [
        (10 + i, "zeta eta theta iota kappa rare" + str(i) + " ", "b") for i in range(6)
    ]
    batch_df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    cells, n_c = drift_reference(batch_df, top_v=8)
    want = {
        r["source"]: (r["n_tokens"], round(r["oov_rate"], 9), round(r["kl"], 9))
        for r in source_drift(batch_df, top_v=8).collect()
    }

    src = tmp_path / "driftstream"
    src.mkdir()
    out = []

    def on_batch(bdf, _bid):
        out.extend(finalize_drift(bdf, cells, n_c).collect())

    stream = spark.readStream.schema("ts timestamp, doc_id long, text string, source string").json(str(src))
    vocab_tokens = [t for t, _ in cells[:-1]]
    counts = drift_token_stream(stream, vocab_tokens, window="1 minute", watermark="5 seconds")
    q = (
        counts.writeStream.outputMode("append")
        .foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "drift_ckpt"))
        .start()
    )
    try:
        with open(src / "b1.json", "w") as f:
            for i, (did, text, s) in enumerate(docs):
                f.write(json.dumps({"ts": "2026-01-01T10:00:05", "doc_id": did, "text": text, "source": s}) + "\n")
        q.processAllAvailable()
        with open(src / "b2.json", "w") as f:
            f.write(json.dumps({"ts": "2026-01-01T10:05:00", "doc_id": 99, "text": "x", "source": "a"}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["source"]: (r["n_tokens"], round(r["oov_rate"], 9), round(r["kl"], 9))
        for r in out
        if r["window_start"].minute == 0
    }
    assert got == want, (got, want)


def test_streaming_url_and_bag_dedup_match_batch(spark, tmp_path):
    """keyed_dedup_stream over canonical_url / bag_fingerprint keeps
    exactly the batch dedup's keeper set on an id-ordered replay."""
    import json

    import pyspark.sql.functions as F

    from csp_gateway_spark.operators.dedup import bag_dedup, bag_fingerprint
    from csp_gateway_spark.operators.web import canonical_url, url_dedup
    from csp_gateway_spark.streaming.dedup_stream import keyed_dedup_stream

    rows = [
        (1, "https://www.example.com/p?utm_source=a", "alpha beta gamma"),
        (2, "HTTPS://EXAMPLE.COM/p/", "gamma beta alpha"),
        (3, "https://example.com/q", "alpha beta gamma"),
        (4, "https://example.com/p#x", "something else entirely"),
    ]
    batch = spark.createDataFrame(rows, "doc_id long, url string, text string")
    url_keep = {r.keep_id for r in url_dedup(batch).collect()}
    bag_keep = {r.keep_id for r in bag_dedup(batch).collect()}
    assert url_keep == {1, 3} and bag_keep == {1, 4}

    for name, expr, want in (
        ("url", canonical_url(F.col("url")), url_keep),
        ("bag", bag_fingerprint(F.col("text")), bag_keep),
    ):
        src = tmp_path / f"kd_{name}"
        src.mkdir()
        out = []
        stream = spark.readStream.schema(
            "ts timestamp, doc_id long, url string, text string"
        ).json(str(src))
        q = (
            keyed_dedup_stream(stream, expr)
            .writeStream.outputMode("append")
            .foreachBatch(lambda bdf, _b, acc=out: acc.extend(bdf.collect()))
            .option("checkpointLocation", str(tmp_path / f"kd_{name}_ck"))
            .start()
        )
        try:
            with open(src / "b1.json", "w") as f:
                for i, (did, url, text) in enumerate(rows):
                    f.write(
                        json.dumps(
                            {"ts": f"2026-01-01T10:00:{i:02d}", "doc_id": did, "url": url, "text": text}
                        )
                        + "\n"
                    )
            q.processAllAvailable()
        finally:
            q.stop()
        assert {r["doc_id"] for r in out} == want, name


def test_streaming_lsh_on_documents_with_foreachbatch_verify(spark, sf_dir, tmp_path):
    """The full streaming dedup pipeline on the REAL documents table
    (VERDICT r4 #5): replay documents as a stream through
    ``lsh_pair_stream``, verify each micro-batch's candidates with
    ``ngram_jaccard_pairs`` against the document store (the
    foreachBatch pattern the dedup_stream docstring promises), and
    assert the verified pair set equals the batch
    ``minhash_lsh_pairs`` → ``ngram_jaccard_pairs`` output."""
    from csp_gateway_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from csp_gateway_spark.streaming.dedup_stream import lsh_pair_stream

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 150)
    )
    cand = minhash_lsh_pairs(docs, num_hashes=16, bands=8)
    batch_verified = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(docs, cand).collect()
    }
    assert batch_verified, "fixture must produce at least one candidate pair"

    src = tmp_path / "docs_stream"
    src.mkdir()
    rows = [
        {
            "ts": f"2026-01-01T10:{(i // 60):02d}:{(i % 60):02d}",
            "doc_id": r["doc_id"],
            "text": r["text"],
        }
        for i, r in enumerate(docs.collect())
    ]
    _drop(src, "b1.json", rows)
    stream = spark.readStream.schema("ts timestamp, doc_id long, text string").json(
        str(src)
    )
    out = lsh_pair_stream(stream, num_hashes=16, bands=8, join_window="60 minutes")

    stream_verified = set()

    def verify_batch(pairs_df, batch_id):
        got = ngram_jaccard_pairs(docs, pairs_df.select("id_a", "id_b")).collect()
        stream_verified.update((r.id_a, r.id_b, round(r.jaccard, 9)) for r in got)

    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(verify_batch)
        .option("checkpointLocation", str(tmp_path / "ck_docs_lsh"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert stream_verified == batch_verified
    finally:
        q.stop()


REPLAY_GATES = [
    g for g in entry.GATES if g.endswith("_stream_replay") or g == "replay_handoff"
]


@pytest.mark.parametrize("gate", REPLAY_GATES)
def test_replay_gate_matches_oracle(spark, sf_dir, gate):
    """Every streaming replay gate (the ten ``*_stream_replay`` plus
    the EngineReplay handoff) lands exactly its DuckDB oracle's rows
    at sf0.001, under the same compare the correctness gate uses."""
    got = entry.queries()[gate](spark, sf_dir).toPandas()
    want = duck_connect(sf_dir).execute(entry.oracle_sql()[gate]).fetchdf()
    assert len(got) > 0
    assert compare(gate, got, want)


@pytest.mark.parametrize("gate", [g for g in entry.GATES if g.endswith("_stream_replay")])
def test_replay_gate_restarts_from_its_checkpoint(spark, sf_dir, monkeypatch, gate):
    """Batch 1 lands and then raises, once; the query restarts on the
    same staged source and checkpoint, re-runs batch 1, and what it
    lands still equals the DuckDB oracle."""
    from csp_gateway_spark import sinks

    land, replay, failed = sinks.land_batch, entry._replay, []

    def land_then_fail_once(df, batch_id, path, mode="append"):
        land(df, batch_id, path, mode)
        if batch_id == 1 and not failed:
            failed.append(path)
            raise RuntimeError("landing failed")

    def replay_with_restart(name, stage, start, landing):
        def start_twice(root, src):
            q = start(root, src)
            try:
                with pytest.raises(Exception, match="landing failed"):
                    q.awaitTermination()
            finally:
                q.stop()
            return start(root, src)

        return replay(name, stage, start_twice, landing)

    monkeypatch.setattr(sinks, "land_batch", land_then_fail_once)
    monkeypatch.setattr(entry, "_replay", replay_with_restart)
    got = entry.queries()[gate](spark, sf_dir).toPandas()
    want = duck_connect(sf_dir).execute(entry.oracle_sql()[gate]).fetchdf()
    assert len(failed) == 1
    assert compare(gate, got, want)
