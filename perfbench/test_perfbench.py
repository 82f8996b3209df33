"""The benchmark's own tests: input determinism, that verification
flags planted faults, and that the metric spec meets its contract.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import run  # noqa: E402
import verify  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec() -> dict:
    return run.load_spec()


def test_same_seed_regenerates_identical_files(tmp_path):
    inputs.generate(7, 1, str(tmp_path / "a"))
    inputs.generate(7, 1, str(tmp_path / "b"))
    inputs.generate(8, 1, str(tmp_path / "c"))
    a, b, c = (inputs.manifest(str(tmp_path / d)) for d in "abc")
    assert a == b
    assert len(a) == 2 * inputs.BACKLOG_FILES + inputs.live_files(1) + 2
    assert a != c
    with open(tmp_path / "a" / "manifest.json") as f:
        assert json.load(f)["turns"] == inputs.total_turns(1)


def _golden() -> pd.DataFrame:
    return pd.DataFrame(
        {"conv_id": ["c1", "c1", "c2"], "turn_idx": [1, 2, 1], "text_tok": ["a", "b [T]", None]}
    )


def test_planted_wrong_token_is_flagged():
    got = _golden()
    assert verify.tokenized_rows(got, _golden())[:2] == (3, 0)
    got.loc[1, "text_tok"] = "b [X]"
    att, failed, notes = verify.tokenized_rows(got, _golden())
    assert (att, failed) == (3, 1) and "wrong text_tok" in notes[0]


def test_duplicate_missing_and_unsorted_rows_are_flagged():
    g = _golden()
    assert verify.tokenized_rows(pd.concat([g, g.iloc[:1]]), g)[1] == 1
    assert verify.tokenized_rows(g.iloc[1:], g)[1] == 1
    swapped = g.iloc[[1, 0, 2]].rename(columns={"text_tok": "text"})
    assert verify.sorted_rows(swapped, g, "text")[1] == 1
    assert verify.sorted_rows(g.rename(columns={"text_tok": "text"}), g, "text")[1] == 0


def test_stream_outputs_bounded_by_batch_twin():
    twin = pd.DataFrame({"w": [0, 5], "info_type": ["EMAIL", "EMAIL"], "n": [3, 2]})
    key = ["w", "info_type"]
    assert verify.bounded_by_twin(twin.assign(n=[3, 1]), twin, key, "n", "freq")[1] == 0
    invented = pd.concat([twin, pd.DataFrame({"w": [10], "info_type": ["SSN"], "n": [1]})])
    assert verify.bounded_by_twin(invented, twin, key, "n", "freq")[1] == 1
    assert verify.bounded_by_twin(twin.assign(n=[4, 2]), twin, key, "n", "freq")[1] == 1
    assert verify.bounded_by_twin(twin.iloc[:0], twin, key, "n", "freq")[1] == 1
    pairs = pd.DataFrame({"token": ["t1", "t1", "t2"]})
    assert verify.bounded_by_twin(pairs.iloc[:2], pairs, ["token"], None, "join")[1] == 0
    assert verify.bounded_by_twin(pd.concat([pairs, pairs.iloc[2:]]), pairs, ["token"], None, "join")[1] == 1


def test_sessions_must_lie_inside_a_twin_session():
    twin = pd.DataFrame(
        {"conv_id": ["c"], "session_start": [0], "session_end": [10], "n_detections": [5]}
    )
    inside = twin.assign(session_start=[2], n_detections=[4])
    assert verify.sessions_within_twin(inside, twin)[1] == 0
    assert verify.sessions_within_twin(twin.assign(session_end=[11]), twin)[1] == 1
    assert verify.sessions_within_twin(twin.assign(n_detections=[6]), twin)[1] == 1


def test_inspect_counts_checked_against_independent_count():
    from auto_data_tokenize_spark.functions import detectors

    table = pd.DataFrame({"text": ["mail a@example.com", "call 415-555-0100", "  ", None]})
    want = verify.independent_inspect_counts(table, ["text"], 1000, detectors.find_spans)
    assert sum(want.values()) >= 1
    report = [
        {"column_name": c, "info_types": [{"info_type": t, "count": n}]}
        for (c, t), n in want.items()
    ]
    assert verify.inspect_report(report, want)[1] == 0
    report[0]["info_types"][0]["count"] += 1
    assert verify.inspect_report(report, want)[1] == 1


def test_spec_names_units_and_bounds(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def test_printed_metrics_match_spec(spec):
    res = {"turns_per_s": 1.0, "latency_p50_s": 1.0, "latency_p90_s": 2.0}
    ctx = workloads.Ctx(1, 1, "", os.devnull, None)
    out = run.result(ctx, run.e2e(res, [1.0, 2.0, 3.0]), spec["end_to_end"])
    assert list(out) == ["correct", "attempted", "failed", "metrics"]
    assert out["metrics"]["setup_s"] == {"value": 2.0, "unit": "s"}
    with pytest.raises(RuntimeError):
        run.result(ctx, {"setup_s": 1.0}, spec["end_to_end"])
