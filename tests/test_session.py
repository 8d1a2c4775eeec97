"""Session-level policies: one definition each for the Arrow stage width
and the keyed exchange width, the engine's Python worker daemon and the
size of Spark's generated-code class cache."""

import sys
import zipimport

import pytest

from pda_spark import _daemon
from pda_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    DAEMON_MODULE,
    arrow_width,
    codegen_compiles,
    keyed_width,
)


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


def _write_zip(path, names):
    import zipfile

    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13 zipimport drops the cache entry instead of re-reading")
def test_daemon_rereads_zip_only_when_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["a"])
    importer = zipimport.zipimporter(archive)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    _daemon.invalidate_caches(importer)
    _daemon.invalidate_caches(importer)
    assert reads == [archive]
    assert importer.find_spec("b") is None

    _write_zip(archive, ["a", "b"])  # rewritten in place: size and mtime change
    _daemon.invalidate_caches(importer)
    assert reads == [archive, archive]
    assert importer.find_spec("b") is not None


def test_daemon_import_has_no_side_effects():
    assert zipimport.zipimporter.invalidate_caches is not _daemon.invalidate_caches


def test_python_workers_run_under_engine_daemon(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def patched_by(s: pd.Series) -> pd.Series:
        import zipimport

        return s.map(lambda _: zipimport.zipimporter.invalidate_caches.__module__)

    assert spark.conf.get("spark.python.daemon.module") == DAEMON_MODULE
    row = spark.range(1, numPartitions=1).select(patched_by("id")).first()
    assert row[0] == "pda_spark._daemon"


def test_codegen_cache_sized_to_engine_working_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_operator_stays_compiled_across_other_plans(spark):
    """An operator's classes stay cached while 150 other plans compile
    (about 300 classes, three times Spark's default cache of 100), so
    its next call compiles nothing."""
    from pyspark.sql import functions as F

    from pda_spark.geo import wkb
    from pda_spark.operators import spatial_join

    pts = spark.createDataFrame(
        [(i, 10.0 + i / 10, 50.0 + i / 20) for i in range(20)], "pt_id int, lon double, lat double"
    )
    polys = spark.createDataFrame(
        [(7, bytearray(wkb.box(9.5, 49.5, 11.0, 51.0)))], "poly_id int, pgeom binary"
    )

    def op():
        return spatial_join.points_in_polygons_join(
            pts, polys, res=7, poly_geom="pgeom", lonlat_cols=("lon", "lat")
        ).agg(F.count(F.lit(1))).first()[0]

    n = op()
    for i in range(150):
        spark.range(8).selectExpr(f"id * {i} + {i}").collect()
    before = codegen_compiles(spark)
    assert op() == n == 10
    assert codegen_compiles(spark) - before == 0
