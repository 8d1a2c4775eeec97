"""The query registry's shape: key order (the driver artifact records
the first 50 keys), entry types and one home module per query builder.
No Spark session."""

import ast
import hashlib
import os

import __spark_entry__ as entry
from pda_spark.plans import registry

PLANS = os.path.dirname(os.path.abspath(registry.__file__))

# the rotation slots the driver artifact records
FIRST_50 = [
    "q111_hilbert", "q112_inverted_index", "q113_staypoints", "q114_density_clusters",
    "q115_od_flows", "q116_pagerank", "q117_mann_kendall", "q118_cooccurrence",
    "q119_getis_ord", "q120_lm_coverage", "q121_hll_registers", "q122_hll_estimate",
    "q123_hausdorff", "q124_dbscan", "q125_cms_build", "q126_cms_estimates",
    "q127_triangles", "q128_funnel", "q129_cohort_retention", "q130_skyline",
    "q131_cusum", "q132_profile", "q133_bloom_bits", "q134_bloom_probe",
    "q135_simhash_pairs", "q136_snap_points", "q137_d8_flow", "q138_hard_negatives",
    "q139_quantize_int8", "q140_quantized_ann", "q141_speed_filter",
    "q142_flow_accumulation", "q143_winsorize", "q144_chunk_text", "q145_url_keep_best",
    "q146_knox", "q147_jaccard_prefix", "q148_sssp", "q149_interval_coverage",
    "q150_ols_trend", "q151_mad", "q152_mode", "q153_ewma", "q154_theil_sen",
    "q155_sorted_neighborhood", "q156_dtw", "q157_rolling_median", "q158_scd2",
    "q159_kcore", "q160_bloom_pruned_join",
]
# sha256 of the newline-joined key order; a reorder re-pins this and
# FIRST_50
KEY_ORDER_SHA256 = "d8f8d5587a1dd1148f0ccc02ed5301664cc8819f36a6c9281d4fcef88b444786"


def test_first_50_keys_are_the_rotation_slots():
    assert list(registry.QUERIES)[:50] == FIRST_50


def test_key_order_is_pinned():
    keys = list(registry.QUERIES)
    assert len(keys) == 170
    assert hashlib.sha256("\n".join(keys).encode()).hexdigest() == KEY_ORDER_SHA256


def test_entries_are_builder_and_oracle_sql():
    for name, value in registry.QUERIES.items():
        assert isinstance(value, tuple) and len(value) == 2, name
        fn, sql = value
        assert callable(fn), name
        assert sql is None or isinstance(sql, str), name


def test_driver_contract_keeps_the_registry_order():
    keys = list(registry.QUERIES)
    assert list(entry.queries()) == keys
    assert list(entry.oracle_sql()) == [k for k in keys if registry.QUERIES[k][1] is not None]


def _defined_functions():
    """Top-level function names per module file of pda_spark/plans."""
    out = {}
    for fname in sorted(os.listdir(PLANS)):
        if fname.endswith(".py"):
            with open(os.path.join(PLANS, fname)) as f:
                tree = ast.parse(f.read())
            out[fname[:-3]] = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
    return out


def test_each_builder_is_defined_in_exactly_one_module():
    defined = _defined_functions()
    assert not defined["registry"], "registry.py holds no builder or fixture"
    for name, (fn, _sql) in registry.QUERIES.items():
        homes = [m for m, fns in defined.items() if fn.__name__ in fns]
        assert homes == [fn.__module__.rsplit(".", 1)[1]], (name, homes)
