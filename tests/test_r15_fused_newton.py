"""r15: `_cox_newton(fused=True)` chains the Newton steps lazily into
two actions (β checkpoint + eval checkpoint) instead of two eager
checkpoints per step.  The arithmetic per stage is identical, so the
fused and eager paths must agree BIT-EXACTLY on both the β frame and
the per-event-time evaluation frame."""

from pyspark.sql import functions as F


def _cohort(spark, sf_dir):
    import __spark_entry__ as entry

    return entry._cox_cohort(spark, sf_dir)


def test_fused_newton_bit_identical_to_eager(spark, sf_dir):
    from csp_gateway_spark.operators.analytics import _cox_newton

    df = _cohort(spark, sf_dir)
    f_eager, b_eager = _cox_newton(df, "dur", "event", "x", 3, fused=False)
    f_fused, b_fused = _cox_newton(df, "dur", "event", "x", 3, fused=True)
    assert b_fused.collect() == b_eager.collect()
    key = [r for r in f_eager.columns]
    ea = sorted(tuple(r) for r in f_eager.select(*key).collect())
    fu = sorted(tuple(r) for r in f_fused.select(*key).collect())
    assert fu == ea


def test_fused_newton_empty_input_keeps_one_row_beta(spark):
    from csp_gateway_spark.operators.analytics import _cox_newton

    empty = spark.createDataFrame([], "dur long, event int, x double")
    final, beta = _cox_newton(empty, "dur", "event", "x", 2, fused=True)
    rows = beta.collect()
    assert len(rows) == 1 and rows[0]["_beta"] == 0.0
    assert final.count() == 0


def test_fused_newton_above_the_small_threshold_takes_eager_steps(spark, sf_dir, monkeypatch):
    """More distinct event times than the small-path threshold: the
    fused fit must not vouch ``known_count`` for its lazy chain (the
    bucketed rank would replay the chain per job); it takes the eager
    per-step path, with the same β and evaluation frame."""
    import csp_gateway_spark.operators.analytics as analytics
    import csp_gateway_spark.plans.scale as scale

    df = _cohort(spark, sf_dir)
    monkeypatch.setattr(analytics, "TARGET_ROWS_PER_BUCKET", 3)
    vouched, real = [], scale.global_row_number

    def spy(*args, **kwargs):
        vouched.append(kwargs.get("known_count"))
        return real(*args, **kwargs)

    monkeypatch.setattr(scale, "global_row_number", spy)
    f_eager, b_eager = analytics._cox_newton(df, "dur", "event", "x", 2, fused=False)
    f_fused, b_fused = analytics._cox_newton(df, "dur", "event", "x", 2, fused=True)
    assert f_fused.select("_t").distinct().count() > 3
    assert vouched and all(n is None for n in vouched), vouched
    assert b_fused.collect() == b_eager.collect()
    assert sorted(tuple(r) for r in f_fused.collect()) == sorted(tuple(r) for r in f_eager.collect())
