"""Hand-crafted mini-fixture with human-verifiable expected outputs — locks the
grain semantics (SEMANTICS.md) independent of both oracles.

Scenario (session 'conv-9000', two boards):
  conv-9000-01: c100 fails @t0, retested passes @t2; v200 passes @t1.
                → run1 = fail, final = pass. First-fail = c100@turn1.
  conv-9000-02: all pass in run 1. Same turn carries TWO step lines (u300
                twice) — attempt must rank by line_no within the turn.
"""

import pandas as pd
import pytest

from ictspark import aggregates as A
from ictspark import parse


@pytest.fixture(scope="module")
def mini(spark, tmp_path_factory):
    rows = [
        ("conv-9000-01", 0, "user", "start", None, "2024-03-01 10:00:00"),
        ("conv-9000-01", 1, "tool", "STEP c100 STATUS=fail VALUE=1.0000 LIM2=2.0000,0.5000", "meas_capacitance", "2024-03-01 10:01:00"),
        ("conv-9000-01", 2, "tool", "STEP v200 STATUS=pass VALUE=5.0000 LIM3=5.0000,6.0000,4.0000", "meas_voltage", "2024-03-01 10:02:00"),
        ("conv-9000-01", 3, "tool", "RETEST c100 ATTEMPT=2\nSTEP c100 STATUS=pass VALUE=1.2000 LIM2=2.0000,0.5000", "meas_capacitance", "2024-03-01 11:30:00"),
        ("conv-9000-02", 0, "tool", "STEP u300 STATUS=pass\nSTEP u300 STATUS=pass", "test_digital", "2024-03-01 10:05:00"),
        # stepless conv: filler only — must not appear in any run-grain report
        ("conv-9001-01", 0, "user", "just chatting, no test plan", None, "2024-03-01 12:00:00"),
        ("conv-9001-01", 1, "assistant", "ok, STEPPING around the subject", None, "2024-03-01 12:01:00"),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    p = str(tmp_path_factory.mktemp("mini") / "t.parquet")
    pdf.to_parquet(p)
    return A.with_attempt(parse.parse_steps(spark.read.parquet(p))).cache()


def test_attempt_ranking_within_turn(mini):
    u = {(r["attempt"], r["line_no"]): r["is_last"] for r in mini.where("step = 'u300'").collect()}
    assert u == {(1, 0): False, (2, 1): True}  # line order breaks the tie


def test_yields_exact(mini):
    y = {(r["level"], r["grain"]): (r["ok"], r["nok"]) for r in A.yields(mini).collect()}
    # conv-01: run1 fail (c100), run2 pass; final pass. conv-02: run1 pass, run2 pass (u300 again)
    assert y[("conv", "first")] == (1, 1)
    assert y[("conv", "after_retest")] == (2, 0)
    # runs: c01 has attempts {1: fail, 2: pass}; c02 has attempts {1: pass, 2: pass}
    assert y[("conv", "total")] == (3, 1)
    assert y[("session", "first")] == (0, 1)
    assert y[("session", "after_retest")] == (1, 0)
    assert y[("session", "total")] == (1, 1)  # sess attempt1 fail, attempt2 pass


def test_first_fail_exact(mini):
    ff = {r["conv_id"]: (r["step"], r["turn_idx"]) for r in A.first_fail(mini).collect()}
    assert ff == {"conv-9000-01": ("c100", 1)}


def test_hourly_exact(mini):
    h = {r["hour"]: (r["ok"], r["nok"]) for r in A.hourly_stats(A.runs(mini)).collect()}
    # run1 of c01 starts 10:01 (fail); run2 starts 11:30 (pass);
    # c02 run1 starts 10:05 (pass), run2 10:05 (pass)
    assert h["2024-03-01 10:00:00"] == (2, 1)
    assert h["2024-03-01 11:00:00"] == (1, 0)


def test_retest_marker_agrees(mini, spark):
    # the RETEST ATTEMPT=2 marker matches the computed rank
    r = mini.where("step = 'c100' and attempt = 2").first()
    assert r["is_last"] and r["status"] == "pass"


def test_stepless_conv_excluded_from_runs(mini):
    assert mini.where("conv_id = 'conv-9001-01'").count() == 0


def test_stepless_conv_present_in_reports(spark, tmp_path_factory):
    # conv_reports (raw text view) must still include it
    import pandas as pd

    from ictspark import aggregates as A2

    rows = [("conv-9001-01", 0, "user", "hello", None, "2024-03-01 12:00:00")]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    p = str(tmp_path_factory.mktemp("mini2") / "t.parquet")
    pdf.to_parquet(p)
    t = spark.read.parquet(p)
    r = A2.conv_reports(t).collect()
    assert len(r) == 1 and r[0]["report"] == "hello"
