"""scripts/measure.py: the scaling-leg table against the committed
BENCH/scaling*.json records, and the query selection of ``time``. No
Spark session and no subprocess."""

import importlib.util
import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location("measure", os.path.join(REPO, "scripts", "measure.py"))
measure = importlib.util.module_from_spec(_spec)
sys.modules["measure"] = measure
_spec.loader.exec_module(measure)

COMMON_KEYS = {
    "job", "mode", "levels", "all_samples", "speedup_lo_to_hi",
    "parallelism_ratio", "scaling_efficiency", "target", "pass",
}
# recorded before the leg moved to the common schema; its levels were
# fixed at 1x2 vs 1x8
IRREGULAR = "irregular"


def _committed(leg):
    with open(os.path.join(REPO, "BENCH", measure.LEGS[leg].out)) as f:
        return json.load(f)


def test_legs_are_the_nine_recorded_jobs():
    assert list(measure.LEGS) == [
        "pip", "pip_wkb", "irregular", "text", "cc", "hilbert", "snap", "buffer", "media",
    ]
    outs = [leg.out for leg in measure.LEGS.values()]
    assert len(set(outs)) == len(outs)


@pytest.mark.parametrize("name", list(measure.LEGS))
def test_leg_output_file_and_keys(name):
    leg = measure.LEGS[name]
    assert os.path.isfile(os.path.join(REPO, "BENCH", leg.out))
    if name == IRREGULAR:
        return
    assert set(_committed(name)) == COMMON_KEYS | {leg.n_key}


@pytest.mark.parametrize("name", list(measure.LEGS))
def test_default_levels_and_rows_reproduce_the_record(name):
    leg = measure.LEGS[name]
    rec = _committed(name)
    if name == IRREGULAR:
        assert leg.levels == "1x2,1x8"
        assert {lvl[leg.n_key] for lvl in rec["levels"].values()} == {leg.rows}
        return
    assert measure.mode(leg.levels) == rec["mode"]
    assert rec[leg.n_key] == leg.rows


@pytest.mark.parametrize("name", list(measure.LEGS))
def test_efficiency_matches_the_record(name):
    rec = _committed(name)
    if name == IRREGULAR:
        lo, hi = rec["levels"]["2"], rec["levels"]["8"]
        eff = measure.efficiency(lo["elapsed_sec"], hi["elapsed_sec"], 4.0)
        # recorded from throughputs at 3 decimals
        assert eff == pytest.approx(rec["scaling_efficiency_1x2_to_1x8"], abs=5e-4)
        return
    lo, hi = rec["levels"]
    assert measure.efficiency(
        lo["elapsed_sec"], hi["elapsed_sec"], rec["parallelism_ratio"]
    ) == rec["scaling_efficiency"]


@pytest.mark.parametrize("name", [n for n in measure.LEGS if n != IRREGULAR])
def test_result_record_rebuilds_from_its_samples(name):
    leg = measure.LEGS[name]
    rec = _committed(name)
    assert measure.scaling_result(name, leg.levels, leg.rows, rec["all_samples"]) == rec


def test_parse_levels():
    assert measure.parse_levels("1x2,4x2") == ((1, 2), (4, 2))


def test_time_without_names_sweeps_the_registry_in_key_order():
    from pda_spark.plans import registry

    assert measure.query_names([]) == list(registry.QUERIES)
    assert measure.query_names(["q82_erosion_area", "q41_pip_join"]) == [
        "q82_erosion_area", "q41_pip_join",
    ]


def test_explain_defaults_cover_registered_queries():
    from pda_spark.plans import registry

    assert set(measure.AUDITED) <= set(registry.QUERIES)
    assert len(set(measure.AUDITED)) == len(measure.AUDITED)


@pytest.mark.parametrize("argv", [
    ["scaling", "pip", "--levels", "1x2"],
    ["scaling", "pip", "--levels", "1x0,1x2"],
    ["scaling", "pip", "--rows", "0"],
    ["scaling", "nope"],
    ["time", "q41_pip_join", "--reps", "-1"],
])
def test_malformed_flags_are_rejected_before_any_work(argv):
    with pytest.raises(SystemExit):
        measure.main(argv)
