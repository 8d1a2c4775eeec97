"""Web-corpus front end: extraction invariants, ingest, checkpoints/resume.

Covers the BASELINE input_hint contract: table shape (url, warc_ts, html,
text, lang); byte-identical extracted text per url; idempotent ingest
(reference ON CONFLICT semantics, test_db_i.py:293-304); resumable
checkpoints with per-partition lineage metrics (north_rule).
"""

import json

import pytest
from pyspark.sql import functions as F

from pda_spark.functions import extract
from pda_spark.sources import web_pages
from pda_spark.sources.checkpoint import CheckpointManager
from pda_spark.sources.ingest import ingest_web_corpus

N_PAGES = 200


@pytest.fixture(scope="module")
def corpus(spark):
    return web_pages.corpus(spark, N_PAGES, partitions=4).cache()


def test_corpus_shape(spark, corpus):
    assert corpus.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert corpus.count() == N_PAGES
    assert corpus.select("url").distinct().count() == N_PAGES


def test_text_byte_identical_per_url(spark, corpus):
    """Per-row invariant: re-running extraction over html reproduces the
    stored text byte-for-byte for every url."""
    re_extracted = extract.extract_text(corpus.drop("text"), out_col="text2")
    joined = corpus.join(re_extracted.select("url", "text2"), on="url")
    mismatches = joined.filter(
        F.encode(F.col("text"), "utf-8") != F.encode(F.col("text2"), "utf-8")
    ).count()
    assert mismatches == 0


def test_text_independent_of_partitioning(spark):
    """Content is a pure function of url: different parallelism, same bytes."""
    a = {r["url"]: r["text"] for r in web_pages.corpus(spark, 50, partitions=1).collect()}
    b = {r["url"]: r["text"] for r in web_pages.corpus(spark, 50, partitions=7).collect()}
    assert a == b


def test_geoparse(spark, corpus):
    geo = extract.geoparse_latlon(corpus)
    rows = geo.select("lat", "lon", "point_geom").collect()
    assert all(r["lat"] is not None and 35 < r["lat"] < 65 for r in rows)
    assert all(r["point_geom"] is not None for r in rows)


def test_parse_footprints_golden(spark, corpus):
    """Footprint parse reproduces the deterministic generator's feature."""
    facts = extract.parse_footprints(corpus)
    assert facts.count() == N_PAGES
    r = facts.filter(F.col("url") == web_pages.page_for_index(3)[0]).head()
    import json as _json
    import re

    html = web_pages.page_for_index(3)[2].decode()
    feat = _json.loads(re.search(r'geo\+json">(.*?)</script>', html).group(1))
    assert r["id"] == feat["properties"]["id"]
    assert r["cloud_cover"] == feat["properties"]["cloud_cover"]
    assert r["sat_id"] == feat["properties"]["satellite_id"]
    assert r["sat_name"] == feat["properties"]["provider"].title()
    # centroid must be inside the footprint
    from pda_spark.geo import kernels, wkb
    import numpy as np

    g = wkb.decode(bytes(r["geom"]))
    lon, lat = wkb.decode(bytes(r["centroid"])).parts[0][0]
    assert kernels.points_in_polygons(np.array([[lon, lat]]), g.polygons())[0]


def test_malformed_pages_skipped(spark):
    """Pages without (or with broken) footprint blocks yield no fact row."""
    rows = [
        ("u1", None, b"<html><body>no geojson here</body></html>", "x", "en"),
        ("u2", None, b'<html><script type="application/geo+json">{broken</script></html>', "x", "en"),
    ]
    from pda_spark import schemas

    df = spark.createDataFrame(rows, schemas.WEB_PAGES)
    assert extract.parse_footprints(df).count() == 0


def _footprint_page(url, acquired):
    """A page whose footprint block carries ``acquired`` (no key when
    None)."""
    props = {"id": url, "satellite_id": "s1", "provider": "p", "item_type": "PSScene"}
    if acquired is not None:
        props["acquired"] = acquired
    ring = [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]
    feat = {"type": "Feature", "geometry": {"type": "Polygon", "coordinates": [ring]}, "properties": props}
    html = f'<html><script type="application/geo+json">{json.dumps(feat)}</script></html>'
    return (url, None, html.encode(), "", "en")


def test_parse_footprints_acquired_matches_per_value_parse(spark):
    """The batch parse of ``acquired`` gives Spark the same timestamps
    as one ``pd.to_datetime`` per value, for each input kind in a batch
    of its own and for one batch mixing naive and offset strings, in a
    UTC and a non-UTC session time zone."""
    import re

    import pandas as pd

    from pda_spark import schemas

    batches = {
        "naive": ["2022-03-04T05:06:07", "2021-12-31T23:59:59"],
        "z": ["2022-03-04T05:06:07Z"],
        "fractional": ["2022-03-04T05:06:07.123456", "2022-03-04T05:06:07.5"],
        "offset": ["2022-03-04T05:06:07+02:00"],
        "date": ["2022-03-04"],
        "missing": [None, "2022-03-04T05:06:07"],
        "mixed": ["2022-03-04T05:06:07", "2022-03-04T05:06:07+02:00", "2022-03-04T05:06:07Z", None, "2022-03-04"],
    }

    def per_value(pdfs):
        for pdf in pdfs:
            props = [
                json.loads(re.search(r'geo\+json">(.*?)</script>', bytes(h).decode()).group(1))["properties"]
                for h in pdf["html"]
            ]
            yield pd.DataFrame(
                {"url": pdf["url"], "time_acquired": [pd.to_datetime(p.get("acquired")) for p in props]}
            )

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            for kind, values in batches.items():
                rows = [_footprint_page(f"{kind}{i}", v) for i, v in enumerate(values)]
                pages = spark.createDataFrame(rows, schemas.WEB_PAGES).coalesce(1)
                got = extract.parse_footprints(pages).select("url", "time_acquired").collect()
                want = pages.mapInPandas(per_value, "url string, time_acquired timestamp").collect()
                assert sorted(got) == sorted(want), (tz, kind)
                assert len(got) == len(values)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_ingest_idempotent(spark, corpus, tmp_path):
    """Reference insert idempotency (test_db_i.py:293-304): running the
    same ingest twice leaves row counts unchanged."""
    ckpt = CheckpointManager(spark, str(tmp_path / "ck"))
    t1 = ingest_web_corpus(corpus, ckpt)
    n_images = t1["sat_images"].count()
    n_pages = t1["web_pages"].count()
    assert n_images == N_PAGES

    t2 = ingest_web_corpus(corpus, ckpt)  # same data again
    assert t2["sat_images"].count() == n_images
    assert t2["web_pages"].count() == n_pages


def test_ingest_incremental_append(spark, tmp_path):
    """New pages flow through on re-run; old ids are not duplicated."""
    ckpt = CheckpointManager(spark, str(tmp_path / "ck2"))
    first = web_pages.corpus(spark, 50)
    t1 = ingest_web_corpus(first, ckpt)
    assert t1["sat_images"].count() == 50

    both = web_pages.corpus(spark, 80)  # first 50 overlap + 30 new
    t2 = ingest_web_corpus(both, ckpt)
    assert t2["web_pages"].count() == 80
    assert t2["sat_images"].count() == 80
    ids = [r["id"] for r in t2["sat_images"].select("id").collect()]
    assert len(ids) == len(set(ids))


def test_checkpoint_manifest_lineage(spark, corpus, tmp_path):
    """Manifests carry per-partition rows, per-file bytes, and lineage."""
    ckpt = CheckpointManager(spark, str(tmp_path / "ck3"))
    ingest_web_corpus(corpus, ckpt)
    m = json.load(open(tmp_path / "ck3" / "footprints" / "manifest.json"))
    assert m["status"] == "committed"
    assert m["parents"] == ["web_pages"]
    assert m["rows"] == N_PAGES
    assert sum(p["rows"] for p in m["partitions"]) == N_PAGES
    assert m["bytes"] > 0 and all(f["bytes"] > 0 for f in m["files"])
    assert "web_pages" in m["parent_fingerprint"]


def test_checkpoint_resume_skips_complete_stages(spark, corpus, tmp_path):
    """A resumed run reuses committed stages (no recompute) and a stage
    with a missing manifest is rebuilt."""
    base = tmp_path / "ck4"
    ckpt = CheckpointManager(spark, str(base))
    ingest_web_corpus(corpus, ckpt)
    committed_at = ckpt.manifest("footprints")["committed_at"]

    # resume: same inputs -> stage reused, manifest untouched
    ckpt2 = CheckpointManager(spark, str(base))
    ingest_web_corpus(corpus, ckpt2)
    assert ckpt2.manifest("footprints")["committed_at"] == committed_at

    # simulate mid-run kill: delete one manifest -> only that stage rebuilds
    (base / "satellites" / "manifest.json").unlink()
    ckpt3 = CheckpointManager(spark, str(base))
    out = ingest_web_corpus(corpus, ckpt3)
    assert ckpt3.is_complete("satellites")
    assert out["satellites"].count() == 4


def test_merge_upsert_updates_matched_inserts_new(spark, tmp_path):
    """Iceberg MERGE INTO semantics on the parquet substitute: matched
    keys take the INCOMING values (vs merge_append, where existing
    wins), unmatched insert, untouched rows survive, and the swap is
    idempotent on re-run."""
    ckpt = CheckpointManager(spark, str(tmp_path / "up"))
    first = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, v string, n long"
    )
    ckpt.merge_upsert(first, "dim", key="id")
    second = spark.createDataFrame(
        [(2, "B2", 99), (4, "d", 40)], "id long, v string, n long"
    )
    out = ckpt.merge_upsert(second, "dim", key="id")
    rows = {r["id"]: (r["v"], r["n"]) for r in out.collect()}
    assert rows == {1: ("a", 10), 2: ("B2", 99), 3: ("c", 30), 4: ("d", 40)}
    # contrast: merge_append on the same collision keeps the OLD row
    ckpt2 = CheckpointManager(spark, str(tmp_path / "ap"))
    ckpt2.merge_append(first, "dim", key="id")
    rows2 = {r["id"]: (r["v"], r["n"])
             for r in ckpt2.merge_append(second, "dim", key="id").collect()}
    assert rows2[2] == ("b", 20) and rows2[4] == ("d", 40)
    # idempotent re-run: same batch, same table
    again = {r["id"]: (r["v"], r["n"])
             for r in ckpt.merge_upsert(second, "dim", key="id").collect()}
    assert again == rows
    assert ckpt.manifest("dim")["rows"] == 4


def test_merge_upsert_preserves_bucketed_layout(spark, tmp_path):
    """Round-5 review: upserting a cluster_by stage must re-lay the
    merged files under the SAME bucket spec and re-register the catalog
    table — never leave a stale bucketed table over plain files."""
    from pyspark.sql import functions as SF

    ckpt = CheckpointManager(spark, str(tmp_path / "bu"))
    first = spark.range(1000).select(SF.col("id").alias("cell"), (SF.col("id") * 2).alias("v"))
    ckpt.write_stage(first, "facts", cluster_by=("cell", 4))
    upd = spark.range(0, 1000, 5).select(SF.col("id").alias("cell"), (SF.col("id") * 7).alias("v"))
    out = ckpt.merge_upsert(upd, "facts", key="cell")
    m = ckpt.manifest("facts")
    assert m["cluster_by"] == {"col": "cell", "buckets": 4} and m["rows"] == 1000
    got = {r["cell"]: r["v"] for r in out.collect()}
    assert got[5] == 35 and got[7] == 14
    # the returned frame is catalog-routed: a self-join on cell with
    # broadcast disabled carries no Exchange (bucket layout survived)
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        other = ckpt.write_stage(first.withColumnRenamed("v", "w"), "dim", cluster_by=("cell", 4))
        from conftest import formatted_plan
        plan = formatted_plan(out.join(other, "cell"))
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)


def test_merge_upsert_crash_mid_swap_leaves_stage_incomplete(spark, tmp_path, monkeypatch):
    """Round-5 review: a kill between the two swap renames must NOT
    leave a 'committed' manifest pointing at a missing data dir — the
    manifest is demoted to 'swapping' first, so stage() rebuilds."""
    import os as _os

    from pda_spark.sources import checkpoint as cp

    ckpt = CheckpointManager(spark, str(tmp_path / "cr"))
    first = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    ckpt.merge_upsert(first, "dim", key="id")
    real_rename = _os.rename
    calls = {"n": 0}

    def exploding_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 1:
            real_rename(src, dst)          # data -> old succeeds...
            raise OSError("simulated crash between swap renames")
        return real_rename(src, dst)

    monkeypatch.setattr(cp.os, "rename", exploding_rename)
    upd = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
    import pytest as _pytest
    with _pytest.raises(OSError):
        ckpt.merge_upsert(upd, "dim", key="id")
    monkeypatch.setattr(cp.os, "rename", real_rename)
    # the half-swapped stage is NOT complete -> stage() rebuilds it
    assert not ckpt.is_complete("dim")
    rebuilt = ckpt.stage("dim", lambda: first)
    assert {r["id"] for r in rebuilt.collect()} == {1, 2}
    assert ckpt.is_complete("dim")


def test_checkpoint_table_names_collision_free(spark, tmp_path):
    mgr = CheckpointManager(spark, str(tmp_path / "tn"))
    assert mgr._table_name("facts-cell") != mgr._table_name("facts_cell")
    other = CheckpointManager(spark, str(tmp_path / "tn2"))
    assert mgr._table_name("facts") != other._table_name("facts")


def test_merge_upsert_sweeps_orphan_swap_dirs(spark, tmp_path):
    """ADVICE r5: a kill mid-swap leaks data.staging.* / data.old.*
    siblings; the next writer entry for that stage must GC them."""
    import os as _os

    ckpt = CheckpointManager(spark, str(tmp_path / "gc"))
    first = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    ckpt.merge_upsert(first, "dim", key="id")
    stage_dir = ckpt._dir("dim")
    # simulate the leak a mid-swap crash leaves behind
    for leaked in ("data.staging.deadbeef", "data.old.deadbeef"):
        _os.makedirs(_os.path.join(stage_dir, leaked, "junk"))
    upd = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
    ckpt.merge_upsert(upd, "dim", key="id")
    leftovers = [
        e for e in _os.listdir(stage_dir) if ".staging." in e or ".old." in e
    ]
    assert leftovers == []
    got = {(r["id"], r["v"]) for r in ckpt.read("dim").collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_merge_sync_deletes_absent_and_is_idempotent(spark, tmp_path):
    """VERDICT r5 #4: the three MERGE flavors contrasted on one fixture.
    upsert keeps unmatched existing rows; sync deletes them (WHEN NOT
    MATCHED BY SOURCE THEN DELETE); append keeps EXISTING values for
    matched keys. Sync re-runs are idempotent."""
    base = [(1, "a"), (2, "b"), (3, "c")]
    src = [(2, "B"), (4, "d")]
    schema = "id long, v string"

    for flavor, want in (
        ("merge_upsert", {(1, "a"), (2, "B"), (3, "c"), (4, "d")}),
        ("merge_sync", {(2, "B"), (4, "d")}),
        ("merge_append", {(1, "a"), (2, "b"), (3, "c"), (4, "d")}),
    ):
        ckpt = CheckpointManager(spark, str(tmp_path / flavor))
        ckpt.merge_upsert(spark.createDataFrame(base, schema), "dim", key="id")
        fn = getattr(ckpt, flavor)
        fn(spark.createDataFrame(src, schema), "dim", key="id")
        got = {(r["id"], r["v"]) for r in ckpt.read("dim").collect()}
        assert got == want, flavor
        # idempotent re-run
        fn(spark.createDataFrame(src, schema), "dim", key="id")
        got2 = {(r["id"], r["v"]) for r in ckpt.read("dim").collect()}
        assert got2 == want, f"{flavor} re-run"


def test_merge_sync_delete_condition_scopes_the_delete(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE AND <cond> THEN DELETE: only the
    partition being synced loses its absent rows."""
    from pyspark.sql import functions as SF

    ckpt = CheckpointManager(spark, str(tmp_path / "scoped"))
    base = [(1, "eu", "a"), (2, "eu", "b"), (3, "us", "c")]
    ckpt.merge_upsert(
        spark.createDataFrame(base, "id long, region string, v string"), "dim", key="id"
    )
    src = spark.createDataFrame([(2, "eu", "B")], "id long, region string, v string")
    ckpt.merge_sync(src, "dim", key="id", delete_condition=SF.col("region") == "eu")
    got = {(r["id"], r["region"], r["v"]) for r in ckpt.read("dim").collect()}
    # id=1 (eu, unmatched) deleted; id=3 (us, unmatched) survives
    assert got == {(2, "eu", "B"), (3, "us", "c")}


def test_merge_sync_null_condition_keeps_the_row(spark, tmp_path):
    """MERGE deletes only where the condition is TRUE: an unmatched row
    whose scoping column is NULL must SURVIVE (bare ~cond would filter
    the NULL out and silently delete it — round-6 review)."""
    from pyspark.sql import functions as SF

    ckpt = CheckpointManager(spark, str(tmp_path / "nullcond"))
    base = [(1, "eu", "a"), (2, None, "b"), (3, "eu", "c")]
    ckpt.merge_upsert(
        spark.createDataFrame(base, "id long, region string, v string"), "dim", key="id"
    )
    src = spark.createDataFrame([(3, "eu", "C")], "id long, region string, v string")
    ckpt.merge_sync(src, "dim", key="id", delete_condition=SF.col("region") == "eu")
    got = {(r["id"], r["region"], r["v"]) for r in ckpt.read("dim").collect()}
    # id=1 (eu, unmatched) deleted; id=2 (NULL region, unmatched) kept
    assert got == {(2, None, "b"), (3, "eu", "C")}


def test_merge_schema_evolution_write_then_widen_then_read(spark, tmp_path):
    """VERDICT r5 #4 write-side ALTER-equivalent: evolve_schema=True
    merges a WIDER incoming schema (new column null-filled on old rows),
    the manifest records the widened schema, and a dropped column
    null-fills on the incoming side."""
    ckpt = CheckpointManager(spark, str(tmp_path / "evo"))
    ckpt.merge_upsert(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), "dim", key="id"
    )
    wider = spark.createDataFrame(
        [(2, "B", 9.5), (3, "c", 1.5)], "id long, v string, score double"
    )
    import pytest as _pytest
    with _pytest.raises(Exception):
        ckpt.merge_upsert(wider, "dim", key="id")  # strict mode still refuses
    ckpt.merge_upsert(wider, "dim", key="id", evolve_schema=True)
    out = ckpt.read("dim")
    assert set(out.columns) == {"id", "v", "score"}
    got = {(r["id"], r["v"], r["score"]) for r in out.collect()}
    assert got == {(1, "a", None), (2, "B", 9.5), (3, "c", 1.5)}
    fields = {f["name"] for f in ckpt.manifest("dim")["schema"]["fields"]}
    assert "score" in fields
    # narrowing incoming (drops v) null-fills v on the new row only
    narrow = spark.createDataFrame([(4, 2.5)], "id long, score double")
    ckpt.merge_upsert(narrow, "dim", key="id", evolve_schema=True)
    got = {(r["id"], r["v"], r["score"]) for r in ckpt.read("dim").collect()}
    assert (4, None, 2.5) in got and (1, "a", None) in got


def test_merge_sync_preserves_bucketed_layout(spark, tmp_path):
    ckpt = CheckpointManager(spark, str(tmp_path / "syncb"))
    df = spark.createDataFrame([(i, f"v{i}") for i in range(20)], "id long, v string")
    ckpt.write_stage(df, "facts", cluster_by=("id", 4))
    src = spark.createDataFrame([(i, f"w{i}") for i in range(5, 25)], "id long, v string")
    out = ckpt.merge_sync(src, "facts", key="id")
    assert out.count() == 20
    assert ckpt.manifest("facts")["cluster_by"] == {"col": "id", "buckets": 4}


# ---- checkpoint commits and reads run no Spark job of their own ------------

STAGES = ["web_pages", "footprints", "satellites", "item_types", "sat_images"]


def _assert_manifest_matches_files(spark, ckpt, name):
    """Manifest rows and its one ``partitions`` entry per data file agree
    with a Spark count of each file, and the declared schema with Spark's
    inference over the stage directory."""
    import os

    from pyspark.sql import types as T

    data_dir = os.path.join(ckpt._dir(name), "data")
    m = ckpt.manifest(name)
    assert [p["file"] for p in m["partitions"]] == [f["file"] for f in m["files"]], name
    for p in m["partitions"]:
        assert p["rows"] == spark.read.parquet(os.path.join(data_dir, p["file"])).count(), name
    assert m["rows"] == sum(p["rows"] for p in m["partitions"]) == spark.read.parquet(data_dir).count()
    assert T.StructType.fromJson(m["schema"]) == spark.read.parquet(data_dir).schema, name
    assert ckpt.read(name).schema == spark.read.parquet(data_dir).schema, name


def test_checkpoint_manifests_match_files_through_ingest_append_resume(spark, tmp_path):
    """Every stage of a fresh ingest, an overlapping append and a resume
    after the later stages' manifests are deleted: footer row counts and
    declared schemas equal what Spark reads back."""
    ckpt = CheckpointManager(spark, str(tmp_path / "mf"))
    ingest_web_corpus(web_pages.corpus(spark, 40, partitions=2), ckpt)
    for name in STAGES:
        _assert_manifest_matches_files(spark, ckpt, name)
    both = web_pages.corpus(spark, 60, partitions=3)
    ingest_web_corpus(both, ckpt)
    for name in STAGES:
        _assert_manifest_matches_files(spark, ckpt, name)
    assert ckpt.manifest("sat_images")["rows"] == 60
    for name in STAGES[2:]:
        (tmp_path / "mf" / name / "manifest.json").unlink()
    ingest_web_corpus(both, ckpt)
    for name in STAGES:
        _assert_manifest_matches_files(spark, ckpt, name)


def test_checkpoint_merge_schemas_match_inference(spark, tmp_path):
    """merge_upsert / merge_sync widening the schema (evolve_schema) and
    a cluster_by stage merged in place: the manifest schema and read()
    equal Spark's inference over the files."""
    ckpt = CheckpointManager(spark, str(tmp_path / "ms"))
    ckpt.merge_upsert(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), "dim", key="id"
    )
    _assert_manifest_matches_files(spark, ckpt, "dim")
    ckpt.merge_upsert(
        spark.createDataFrame([(2, "B", 9.5)], "id long, v string, score double"),
        "dim", key="id", evolve_schema=True,
    )
    _assert_manifest_matches_files(spark, ckpt, "dim")
    ckpt.merge_sync(
        spark.createDataFrame([(3, [1, 2], {"k": 1.0})], "id long, tags array<int>, attrs map<string,double>"),
        "dim", key="id", delete_condition=F.col("id") > 1, evolve_schema=True,
    )
    _assert_manifest_matches_files(spark, ckpt, "dim")
    assert {r["id"] for r in ckpt.read("dim").collect()} == {1, 3}

    facts = spark.range(100).selectExpr("id AS cell", "struct(id, id * 2 AS d) AS s")
    ckpt.write_stage(facts, "facts", cluster_by=("cell", 4))
    _assert_manifest_matches_files(spark, ckpt, "facts")
    ckpt.merge_upsert(
        spark.range(90, 110).selectExpr("id AS cell", "struct(id, id * 3 AS d) AS s", "1.5D AS w"),
        "facts", key="cell", evolve_schema=True,
    )
    _assert_manifest_matches_files(spark, ckpt, "facts")
    assert ckpt.manifest("facts")["rows"] == 110


def test_checkpoint_write_read_run_only_the_write_jobs(spark, tmp_path):
    """write_stage runs the jobs of its parquet write and nothing else,
    read() of a committed stage runs none (bucketed too, after a catalog
    wipe), and merge_append runs only its anti-join write."""
    from conftest import jobs_in_group

    df = spark.range(2000).selectExpr("id % 37 AS k", "id").groupBy("k").count()
    _, plain = jobs_in_group(spark, "ck-plain", lambda: df.write.parquet(str(tmp_path / "plain")))
    ckpt = CheckpointManager(spark, str(tmp_path / "jb"))
    _, staged = jobs_in_group(spark, "ck-stage", lambda: ckpt.write_stage(df, "agg"))
    assert plain >= 1 and staged == plain, (staged, plain)
    _, read_jobs = jobs_in_group(spark, "ck-read", lambda: ckpt.read("agg"))
    assert read_jobs == 0

    ckpt.write_stage(spark.range(100).selectExpr("id AS cell", "id AS v"), "b", cluster_by=("cell", 4))
    spark.sql(f"DROP TABLE {ckpt._table_name('b')}")
    out, read_jobs = jobs_in_group(spark, "ck-read-b", lambda: ckpt.read("b"))
    assert read_jobs == 0 and out.count() == 100

    first = spark.range(0, 300).selectExpr("id AS key", "id * 2 AS v")
    _, plain = jobs_in_group(
        spark, "ck-app0-plain",
        lambda: first.dropDuplicates(["key"]).write.parquet(str(tmp_path / "app0")),
    )
    _, appended = jobs_in_group(spark, "ck-app0", lambda: ckpt.merge_append(first, "app", key="key"))
    assert appended == plain, (appended, plain)

    more = spark.range(200, 500).selectExpr("id AS key", "id * 3 AS v")
    existing = spark.read.parquet(str(tmp_path / "app0")).select("key")
    _, plain = jobs_in_group(
        spark, "ck-app1-plain",
        lambda: more.dropDuplicates(["key"])
        .join(existing, on="key", how="left_anti")
        .write.mode("append")
        .parquet(str(tmp_path / "app0")),
    )
    out, appended = jobs_in_group(spark, "ck-app1", lambda: ckpt.merge_append(more, "app", key="key"))
    assert appended == plain, (appended, plain)
    assert ckpt.manifest("app")["rows"] == 500 and out.count() == 500


def test_merge_append_manifest_skips_uncommitted_task_files(spark, tmp_path):
    """Task files a killed write left in hidden staging directories are
    not stage rows: Spark does not read them, so the manifest counts
    only what ``read()`` returns. The next append's job commit removes
    ``_temporary/``, but a ``.spark-staging-<job>`` directory (dynamic
    partition overwrite) is only removed by its own job."""
    import os
    import shutil

    ckpt = CheckpointManager(spark, str(tmp_path / "tmpf"))
    ckpt.merge_append(spark.range(0, 50).selectExpr("id AS key", "id AS v"), "app", key="key")
    data_dir = os.path.join(ckpt._dir("app"), "data")
    first = next(f["file"] for f in ckpt.manifest("app")["files"])
    for leftover in ("_temporary/0/_temporary/attempt_0", ".spark-staging-0"):
        os.makedirs(os.path.join(data_dir, leftover))
        shutil.copy(os.path.join(data_dir, first), os.path.join(data_dir, leftover, first))

    out = ckpt.merge_append(spark.range(40, 70).selectExpr("id AS key", "id AS v"), "app", key="key")
    m = ckpt.manifest("app")
    assert os.path.isdir(os.path.join(data_dir, ".spark-staging-0"))
    assert m["rows"] == out.count() == ckpt.read("app").count() == 70
    assert not any(f["file"].startswith((".", "_")) for f in m["files"])
    _assert_manifest_matches_files(spark, ckpt, "app")
