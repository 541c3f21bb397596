"""Tests of the benchmark's own helpers (no Spark session needed).

Run with: python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pyarrow.parquet as pq
import pytest

import gen
import layers
import run
from spans import Span, layer_self_times, parse_sql_metric
from stats import (
    METRIC_NAME,
    check_metric_names,
    covered,
    percentile,
    self_time,
    tail,
    tail_percentile,
)

ROOT = Path(__file__).resolve().parent.parent


# -- generator determinism ------------------------------------------------------


def _ids(n: int) -> list[str]:
    return [f"p-{i}" for i in range(n)]


def test_batch_lines_same_seed_same_batches():
    assert gen.batch_lines(_ids(5000), 7, 4) == gen.batch_lines(_ids(5000), 7, 4)


def test_batch_lines_other_seed_other_batches():
    assert gen.batch_lines(_ids(5000), 7, 4)[0] != gen.batch_lines(_ids(5000), 8, 4)[0]


def test_batch_lines_shares():
    lines, known = gen.batch_lines(_ids(5000), 3, 4)
    seen: set[str] = set()
    for b, (batch, fresh) in enumerate(zip(lines, known)):
        assert len(batch) == gen.BATCH_LINES
        poison = [x for x in batch if len(x.encode()) > 1024]
        assert len(poison) == (1 if b % gen.POISON_EVERY == 0 else 0)
        assert sum(x.startswith("p-unknown-") for x in batch) == gen.UNKNOWN_LINES
        assert len(batch) - len(set(batch)) == gen.DUP_LINES
        assert set(fresh) <= set(batch) and not seen & set(fresh)
        seen |= set(fresh)


def test_batch_lines_refuses_short_backlog():
    with pytest.raises(ValueError):
        gen.batch_lines(_ids(100), 1, 2)


def test_crunch_tables_deterministic(tmp_path):
    a = gen.crunch_tables(tmp_path / "a", n_matches=5, n_players=50, seed=9)
    b = gen.crunch_tables(tmp_path / "b", n_matches=5, n_players=50, seed=9)
    c = gen.crunch_tables(tmp_path / "c", n_matches=5, n_players=50, seed=10)
    read = lambda d: pq.read_table(d / "participant.parquet")  # noqa: E731
    assert read(a).equals(read(b))
    assert not read(a).equals(read(c))
    players = set(read(a)["player_api_id"].to_pylist())
    assert players <= {f"player-{i}" for i in range(50)}


def test_pregrown_keys_unique():
    combos = 8
    keys = {
        ((p * 37 + j * 131) % 800, p) for p in range(300) for j in range(combos)
    }
    assert len(keys) == 300 * combos
    assert "range(2400)" in gen.pregrown_rows_sql(300, combos)


# -- output check -----------------------------------------------------------------


def test_fold_add_follows_the_merge_add_policy():
    from drain import _fold_add

    history = {("a",): (1, 0.1), ("b",): (2, 1.0), ("c",): (None, 2.0)}
    recompute = {("b",): (3, 0.2), ("c",): (4, 1.0), ("d",): (5, 0.5)}
    assert _fold_add(history, recompute, [False, True]) == {
        ("a",): (1, 0.1),  # history only
        ("b",): (5, 1.2),  # through DECIMAL(28,6): not 1.2000000000000002
        ("c",): (None, 3.0),  # NULL + x = NULL
        ("d",): (5, 0.5),  # new key
    }


def test_compare_counts_each_kind_of_difference():
    from drain import _compare

    state = {("k1",): (1, 10.0), ("k2",): (2, 10.0), ("k3",): (None, 3.0), ("k4",): (4, 1.0)}
    expected = {("k1",): (1, 10.4), ("k2",): (3, 11.0), ("k3",): (7, 3.0), ("k5",): (5, 1.0)}
    assert _compare(state, expected, ["played", "impact_score"], {"impact_score": 0.5}) == {
        "rows": 5,
        "bad_played": 2,  # k2, and k4 (no expected value)
        "bad_impact_score": 2,  # k2 beyond the tolerance (k1 within it), k4
        "null_played": 1,  # k3: present, NULL cell
        "missing_in_state": 1,  # k5
        "missing_in_recompute": 1,  # k4
    }
    assert _compare(state, dict(state), ["played", "impact_score"], {}) == {"rows": 4, "null_played": 1}


# -- tail rule --------------------------------------------------------------------


@pytest.mark.parametrize(
    "n,p",
    [(1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_leaves_ten_beyond(n, p):
    assert tail_percentile(n) == p
    if p is not None:
        assert round(n * (100 - p) / 100, 6) >= 10


def test_tail_falls_back_to_max_and_says_so():
    assert tail([3.0, 1.0, 2.0]) == (3.0, "max of 3")
    value, label = tail([float(i) for i in range(100)])
    assert label == "p90 of 100" and value == pytest.approx(89.1)


def test_percentile_interpolates():
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert percentile([5.0], 99) == 5.0


# -- self time --------------------------------------------------------------------


def test_self_time_subtracts_covered_child_intervals():
    # children overlap each other and one runs past the parent's end
    assert covered([(1, 3), (2, 4), (8, 12)], 0, 10) == 5
    assert self_time(0, 10, [(1, 3), (2, 4), (8, 12)]) == 5
    assert self_time(0, 10, []) == 10


def test_layer_self_times_per_op():
    spans = [
        Span("worker", "batch-3", 0.0, 10.0),
        Span("plans", "batch-3", 1.0, 2.0, parent=0),
        Span("merge", "batch-3", 2.0, 9.0, parent=0),
        Span("read", "read-3-0", 10.0, 11.0),
    ]
    assert layer_self_times(spans, "batch-3") == {"worker": 2.0, "plans": 1.0, "merge": 7.0}
    assert layer_self_times(spans, "read-3-0") == {"read": 1.0}


def test_parse_sql_metric():
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n12.5 KiB (1.0 KiB, 2.0 KiB, 3.0 KiB (stage 1.0: task 4))") == 12.5 * 1024
    assert parse_sql_metric("1.5 s") == 1.5
    assert parse_sql_metric("250 ms") == 0.25
    assert parse_sql_metric("1,024") == 1024


# -- metric names -------------------------------------------------------------------


def test_metric_names_are_well_formed():
    names = list(run.UNITS) + list(layers.UNITS)
    assert all(METRIC_NAME.fullmatch(n) for n in names)
    check_metric_names(names)
    with pytest.raises(ValueError):
        check_metric_names(["latency ms"])


def test_benchmark_json_matches_the_metrics_printed():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.UNITS
    assert per_layer == layers.UNITS
    from drain import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
