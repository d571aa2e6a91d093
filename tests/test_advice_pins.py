"""Regression pins for the round-6 ADVICE fixes (round-7 verdict task 6).

Each test pins a fix that previously existed only as code, not as a test:

- ensure_protobuf must APPEND the App Engine platform dir to PYTHONPATH
  (ordering, not just presence): that dir ships many top-level packages
  beyond protobuf, and prepending would let them shadow real modules in
  every spawned worker (compat.py:54-72).
- prepare_session must build sc.environment["PYTHONPATH"] with the same
  never-shadow ordering: repo root first, inherited PYTHONPATH next,
  protobuf fallback dirs LAST (streaming/stateful.py, round-6 ADVICE #1).
- agg-regression-trend / agg-welch-ttest must exclude degenerate inputs
  IDENTICALLY in both engines (single-day segment / size-1 arm /
  zero-variance arms): Spark non-ANSI division yields NULL where DuckDB
  IEEE yields inf/nan, so any asymmetry in the guard is a silent
  divergence waiting for a fixture that triggers it
  (registry/relational.py:1912, _WELCH_GUARD).
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import duckdb
import pytest

from tools.difftest import run_one

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_APPENGINE = "/usr/lib/google-cloud-sdk/platform/google_appengine"


# --- compat.ensure_protobuf: append, never prepend -------------------------


@pytest.mark.skipif(
    not os.path.isdir(os.path.join(_APPENGINE, "google", "protobuf")),
    reason="no App Engine protobuf fallback on this box",
)
def test_ensure_protobuf_appends_to_pythonpath():
    """Fresh interpreter, no pip protobuf, sentinel PYTHONPATH: after
    ensure_protobuf() the sentinel must still be FIRST and the platform
    dir LAST — appended, not prepended."""
    script = textwrap.dedent(
        f"""
        import os, sys, json
        sys.path.insert(0, {REPO!r})
        from ai_knowledge_etl_spark.compat import ensure_protobuf
        ok = ensure_protobuf()
        print(json.dumps({{
            "ok": ok,
            "pythonpath": os.environ.get("PYTHONPATH", ""),
            "syspath_tail": sys.path[-1],
        }}))
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = "/nonexistent-sentinel"
    out = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    import json

    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["ok"] is True
    parts = res["pythonpath"].split(os.pathsep)
    assert parts[0] == "/nonexistent-sentinel", parts
    assert parts[-1] == _APPENGINE, parts
    # and sys.path got the APPEND treatment too
    assert res["syspath_tail"] == _APPENGINE


# --- stateful.prepare_session: repo, inherited, fallbacks — in that order --


def test_prepare_session_pythonpath_ordering(spark, monkeypatch):
    from ai_knowledge_etl_spark.streaming import stateful

    monkeypatch.setenv("PYTHONPATH", "/nonexistent-sentinel")
    try:
        stateful.prepare_session(spark)
        parts = spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)
        assert parts[0] == REPO, parts
        sent = parts.index("/nonexistent-sentinel")
        proto_dirs = [
            i
            for i, p in enumerate(parts)
            if os.path.isdir(os.path.join(p, "google", "protobuf"))
        ]
        assert proto_dirs, "no protobuf dir in sc.environment PYTHONPATH"
        # every protobuf fallback dir comes AFTER the inherited PYTHONPATH
        assert all(sent < i for i in proto_dirs), parts
    finally:
        # leave a clean sc.environment for later tests/workers: rebuild it
        # from the real (monkeypatch-restored at teardown — do it now) env
        monkeypatch.undo()
        stateful.prepare_session(spark)


# --- degenerate-corpus parity for regression-trend / welch -----------------


def _write_events(path: str, rows: list[tuple[str, str, float]]) -> None:
    """rows: (ts_literal, event_type, value). Writes the full 6-column
    events schema the loaders expect (catalog.SCHEMAS["events"]): bare
    VALUES would give INTEGER ids and a DECIMAL value, and Spark reads a
    DECIMAL column requested as DOUBLE as its unscaled integer."""
    con = duckdb.connect()
    values = ", ".join(
        f"({i}, TIMESTAMP '{ts}', {i % 5}, '{et}', {v}, '{{}}')"
        for i, (ts, et, v) in enumerate(rows)
    )
    con.execute(
        f"""
        COPY (
          SELECT event_id::BIGINT AS event_id, ts,
                 user_id::BIGINT AS user_id, event_type,
                 value::DOUBLE AS value, props
          FROM (VALUES {values})
            t(event_id, ts, user_id, event_type, value, props)
        ) TO '{os.path.join(path, "events.parquet")}' (FORMAT PARQUET)
        """
    )
    con.close()


def _degenerate_con(tmp: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp}/events.parquet'"
    )
    return con


def test_regression_trend_single_day_segment(spark, tmp_path):
    """A segment with ONE distinct day has a zero slope denominator: both
    engines must drop it and keep the multi-day segment, value-identically."""
    tmp = str(tmp_path)
    _write_events(
        tmp,
        # 'solo': 3 rows, all on the same day -> daily has 1 row -> dropped
        [("2024-01-01 01:00:00", "solo", 10.0),
         ("2024-01-01 05:00:00", "solo", 20.0),
         ("2024-01-01 09:00:00", "solo", 30.0)]
        # 'pair': two distinct days -> kept
        + [("2024-01-01 02:00:00", "pair", 5.0),
           ("2024-01-02 02:00:00", "pair", 7.5),
           ("2024-01-03 02:00:00", "pair", 11.25)],
    )
    con = _degenerate_con(tmp)
    ok, msg = run_one(spark, con, "agg-regression-trend", tmp)
    assert ok, msg
    from ai_knowledge_etl_spark.registry import REGISTRY

    rows = REGISTRY["agg-regression-trend"].spark(spark, tmp).collect()
    assert [r["event_type"] for r in rows] == ["pair"]


@pytest.mark.parametrize(
    "rows, expect_n",
    [
        # size-1 purchase arm: excluded (na > 1 fails) -> 0 rows
        (
            [("2024-01-01 00:00:00", "purchase", 5.0)]
            + [("2024-01-01 00:00:00", "click", float(v)) for v in (1, 2, 4)],
            0,
        ),
        # both arms zero-variance: t denominator would be 0 -> 0 rows
        (
            [("2024-01-01 00:00:00", "purchase", 5.0) for _ in range(3)]
            + [("2024-01-01 00:00:00", "click", 7.0) for _ in range(4)],
            0,
        ),
        # ONE zero-variance arm: kept (OR guard), finite t from the other
        (
            [("2024-01-01 00:00:00", "purchase", 5.0) for _ in range(3)]
            + [("2024-01-01 00:00:00", "click", float(v)) for v in (1, 2, 4)],
            1,
        ),
    ],
    ids=["size1-arm", "both-zero-variance", "one-zero-variance"],
)
def test_welch_degenerate_arms(spark, tmp_path, rows, expect_n):
    tmp = str(tmp_path)
    _write_events(tmp, rows)
    con = _degenerate_con(tmp)
    ok, msg = run_one(spark, con, "agg-welch-ttest", tmp)
    assert ok, msg
    from ai_knowledge_etl_spark.registry import REGISTRY

    out = REGISTRY["agg-welch-ttest"].spark(spark, tmp).collect()
    assert len(out) == expect_n
    if expect_n:
        t = out[0]["t_stat"]
        assert t is not None and t == t  # finite, not NULL/NaN
