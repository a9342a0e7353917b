"""The benchmark's own tests, at a tiny input size.

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from argparse import Namespace

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bigdata_20251_steam_spark.schemas import TESTDATA_TABLES
from perfbench import gen, run, tracing, workloads
from perfbench.verify import canonical, mismatch

TINY = gen.TableSizes(scale=0.0005, documents=60, embeddings=60)
TINY_BACKLOG = gen.BacklogSizes(
    files={"reviews": 2, "charts": 1, "players": 2},
    per_file={"reviews": 40, "charts": 20, "players": 40},
)


def _digest(root: str) -> dict[str, str]:
    return {
        os.path.relpath(p, root): hashlib.sha256(open(p, "rb").read()).hexdigest()
        for p in sorted(glob.glob(os.path.join(root, "**", "*.*"), recursive=True))
    }


def test_generator_is_deterministic_per_seed(tmp_path):
    for tag, seed in (("a", 3), ("b", 3), ("c", 4)):
        gen.make_tables(seed, str(tmp_path / tag), TINY)
        gen.make_backlog(seed, str(tmp_path / tag / "backlog"), TINY_BACKLOG)
    a, b, c = (_digest(str(tmp_path / t)) for t in "abc")
    assert a == b
    assert set(a) == set(c) and a != c
    assert len(a) == len(TESTDATA_TABLES) + sum(TINY_BACKLOG.files.values())


def test_unread_tables_are_empty_and_timestamps_match_the_fixtures(tmp_path):
    sizes = gen.TableSizes(scale=0.0005, documents=60, embeddings=60, read=("orders", "events"))
    rows = gen.make_tables(7, str(tmp_path), sizes)
    assert rows["orders"] == 750 and rows["events"] == 500 and rows["lineitem"] == 0
    for name in TESTDATA_TABLES:
        assert pq.read_metadata(tmp_path / f"{name}.parquet").num_rows == rows[name]
    # the fixtures store timestamp[us] without the UTC-adjusted flag
    ts = pq.read_schema(tmp_path / "events.parquet").field("ts").type
    assert ts == pa.timestamp("us")


def test_backlog_disorder_stays_within_the_players_watermark(tmp_path):
    info = gen.make_backlog(5, str(tmp_path), TINY_BACKLOG)
    assert info["players"]["events"] == 80
    seen_max = None
    for path in sorted(glob.glob(str(tmp_path / "players" / "*.json"))):
        ts = [pd.Timestamp(json.loads(line)["timestamp"]) for line in open(path)]
        if seen_max is not None:
            # the 5-minute watermark trails the previous batches' maximum
            assert min(ts) > seen_max - pd.Timedelta(minutes=5)
        seen_max = max(ts) if seen_max is None else max(seen_max, max(ts))


def _batch_workload():
    wl = workloads.BatchWorkload("serving", [], TINY, "query", "dashboard_refresh_s")
    frame = pd.DataFrame({"k": ["a", "b"], "v": [1.5, 2.25], "n": [1, 2]})
    wl.expected = {"q": canonical(frame)}
    return wl, frame


def test_matching_output_passes_in_any_row_and_column_order():
    wl, frame = _batch_workload()
    shuffled = frame.iloc[::-1][["n", "v", "k"]].reset_index(drop=True)
    p = workloads.PassResult(1.0, [workloads.OpResult("q", 0.1, output=shuffled)])
    assert wl.check(None, p) == []


def test_corrupted_output_is_counted_as_failed():
    wl, frame = _batch_workload()
    bad_value = frame.copy()
    bad_value.loc[1, "v"] = 2.2500001
    missing_row = frame.iloc[:1]
    p = workloads.PassResult(1.0, [
        workloads.OpResult("q", 0.1, output=bad_value),
        workloads.OpResult("q", 0.1, output=missing_row),
        workloads.OpResult("q", 0.1, error="Traceback\nValueError: boom"),
    ])
    bad = wl.check(None, p)
    assert len(bad) == 3
    assert "row count" in bad[1] and "boom" in bad[2]


def test_float_tolerance_matches_the_oracle_tests():
    exp = canonical(pd.DataFrame({"x": [0.1 + 0.2]}))
    assert mismatch(canonical(pd.DataFrame({"x": [0.3]})), exp) is None
    assert mismatch(canonical(pd.DataFrame({"x": [0.3001]})), exp) is not None


def test_trace_parent_links_and_self_time():
    tr = tracing.Tracer(enabled=True)
    with tr.span("op", "bench", 1) as root:
        with tr.span("construct", "plans", 1):
            with tr.span("load_table", "sources", 1):
                pass
        with tr.span("action", "exec", 1):
            pass
    ids = {s["id"] for s in tr.spans}
    assert all(s["parent"] is None or s["parent"] in ids for s in tr.spans)
    parents = {s["name"]: s["parent"] for s in tr.spans}
    assert parents["op"] is None and parents["construct"] == root["id"]
    by_name = {s["name"]: s for s in tr.spans}
    assert parents["load_table"] == by_name["construct"]["id"]
    # self times partition the root span exactly
    selfs = tracing.self_times(tr.spans)
    assert sum(selfs.values()) == pytest.approx(root["end"] - root["start"], abs=1e-9)
    assert set(selfs) == {"bench", "plans", "sources", "exec"}


def test_self_time_and_uncovered_arithmetic_on_fixed_spans():
    tr = tracing.Tracer(enabled=True)
    r = tr.add("root", "bench", 1, 0.0, 10.0)
    tr.add("a", "plans", 1, 1.0, 4.0, r["id"])
    c = tr.add("b", "exec", 1, 3.0, 6.0, r["id"])  # overlaps a: union is 5
    tr.add("c", "sources", 1, 4.0, 5.0, c["id"])
    tr.add("later", "bench", 2, 12.0, 14.0)
    selfs = tracing.self_times(tr.spans)
    assert selfs == pytest.approx({"bench": 5.0 + 2.0, "plans": 3.0, "exec": 2.0, "sources": 1.0})
    # 0..20 has 10 + 2 covered by roots
    assert tracing.uncovered(tr.spans, 0.0, 20.0) == pytest.approx(8.0 / 20.0)


def test_sql_metric_strings_parse_to_base_units():
    assert tracing.parse_metric("10,000") == 10000
    assert tracing.parse_metric("total (min, med, max)\n78.7 KiB (19.7 KiB, ...)") == pytest.approx(78.7 * 1024)
    assert tracing.parse_metric("total (min, med, max)\n5.7 s (1.3 s, 1.5 s)") == pytest.approx(5.7)
    assert tracing.parse_metric("752 ms") == pytest.approx(0.752)


def test_tail_percentile_needs_ten_samples_beyond():
    from perfbench.harness import tail_percentile

    assert tail_percentile(list(range(100)))[0] == 90
    assert tail_percentile(list(range(40)))[0] == 75
    assert tail_percentile(list(range(12)))[0] == 50


@pytest.fixture
def tiny(monkeypatch):
    def tiny_serving():
        wl = workloads.serving()
        wl.queries = [q for q in wl.queries if q.name in ("q1_pricing_summary", "event_share", "dim_join")]
        wl.sizes = TINY
        return wl

    monkeypatch.setitem(workloads.WORKLOADS, "serving", tiny_serving)
    monkeypatch.setitem(workloads.WORKLOADS, "kappa_ingest",
                        lambda: workloads.KappaWorkload(TINY_BACKLOG))
    monkeypatch.setattr(run, "SETUP_REPEATS", 2)


@pytest.mark.parametrize("workload,trace", [("serving", 0), ("serving", 1), ("kappa_ingest", 1)])
def test_every_metric_is_printed_with_its_unit(tiny, capsys, workload, trace):
    out = run.run(Namespace(workload=workload, seed=1, seconds=0.0, trace=trace))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    units = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == units
    assert all(isinstance(v["value"], float | int) for v in out["metrics"].values())
    lines = capsys.readouterr().out.splitlines()
    named = {ln.split()[1]: ln.split()[3] for ln in lines if ln.startswith("metric ")}
    assert {"setup_s", "peak_rss_mb", "failed_ratio"} <= set(named)
    if workload == "kappa_ingest":
        assert named["ingest_events_per_s"] == "1/s" and "epoch_p50_s" in named
        assert out["metrics"]["state.rows_dropped_by_watermark"]["value"] == 0
        assert out["metrics"]["streaming.epochs"]["value"] >= 5
    elif trace:
        assert out["metrics"]["pyudf.rows"]["value"] == 0
        assert out["metrics"]["sources.load_table_calls"]["value"] > 0
