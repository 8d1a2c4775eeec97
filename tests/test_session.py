"""Session-level width policies: one definition each for the Arrow stage
width and the keyed exchange width."""

import pytest

from pda_spark.session import arrow_width, keyed_width


def test_arrow_width_env_override(spark, monkeypatch):
    df = spark.range(1)
    monkeypatch.setenv("PDA_ARROW_STAGE_WIDTH", "3")
    assert arrow_width(df) == 3


@pytest.mark.parametrize("raw", ["", "abc", "2.5", "0", "-4"])
def test_arrow_width_rejects_bad_env(spark, monkeypatch, raw):
    monkeypatch.setenv("PDA_ARROW_STAGE_WIDTH", raw)
    with pytest.raises(ValueError, match="PDA_ARROW_STAGE_WIDTH"):
        arrow_width(spark.range(1))


def test_widths_follow_session_parallelism(spark, monkeypatch):
    monkeypatch.delenv("PDA_ARROW_STAGE_WIDTH", raising=False)
    df = spark.range(1)
    n = spark.sparkContext.defaultParallelism
    assert 1 <= arrow_width(df) <= n
    assert keyed_width(df) == 2 * n
