"""The benchmark's own tests: seeded inputs repeat, the output checks fire,
and BENCHMARK.json names exactly the metrics run.py reports.

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import inputs as I
from perfbench import reference as R
from perfbench import run
from perfbench.workloads import check_stream, check_table

ROOT = Path(__file__).resolve().parent.parent


def _frame_hash(df: pd.DataFrame) -> int:
    return int(pd.util.hash_pandas_object(df, index=False).sum())


def test_same_seed_same_inputs_other_seed_differs(tmp_path):
    a = I.ensure(tmp_path / "a", "spatial_ops", 7)
    b = I.ensure(tmp_path / "b", "spatial_ops", 7)
    c = I.ensure(tmp_path / "c", "spatial_ops", 8)
    assert I.digest(a) == I.digest(b)
    assert I.digest(a) != I.digest(c)


def test_pages_window_and_stream_split_follow_the_seed():
    p1, p2, p3 = (I.pages_frame(s, n=300) for s in (3, 3, 4))
    assert _frame_hash(p1) == _frame_hash(p2) != _frame_hash(p3)
    assert (I.stream_cuts(3) == I.stream_cuts(3)).all()
    assert not np.array_equal(I.stream_cuts(3), I.stream_cuts(4))
    cuts = I.stream_cuts(3)
    assert cuts[0] == 0 and cuts[-1] == I.PAGES_ROWS and (np.diff(cuts) > 0).all()


def test_pages_keep_the_pinned_skew():
    g = R.geotag(I.pages_frame(5, n=2000)["html"])
    assert g["lat"].isna().mean() == pytest.approx(0.10, abs=0.01)
    hot = g["lat"].between(40.66, 40.77) & g["lon"].between(-74.06, -73.95)
    # 20% of pages snap to 3 hot cities; half of those are the untagged tenth
    assert hot.mean() == pytest.approx(0.10 / 3, abs=0.01)


def test_knn_reference_breaks_ties_by_id():
    pts = pd.DataFrame({"id": [5, 3, 9], "lat": [1.0, 1.0, 0.0], "lon": [0.0, 0.0, 0.0]})
    qs = pd.DataFrame({"qid": [0], "qlat": [0.0], "qlon": [0.0]})
    got = R.knn(qs, pts, k=3)
    assert got["id"].tolist() == [9, 3, 5] and got["rk"].tolist() == [1, 2, 3]


REF = pd.DataFrame(
    {"level": [12, 12, 10, 8], "cell": [11, 12, 40, 90], "cnt": [3, 1, 4, 4]}
)


def test_mismatch_catches_dropped_and_altered_rows():
    assert R.mismatch(REF.sample(frac=1, random_state=0), REF, ["level", "cell"], "t") is None
    assert "rows" in R.mismatch(REF.iloc[1:], REF, ["level", "cell"], "t")
    altered = REF.copy()
    altered.loc[2, "cnt"] = 5
    assert "cnt" in R.mismatch(altered, REF, ["level", "cell"], "t")


def _commit(table: Path, unit: str, df: pd.DataFrame) -> None:
    path = table / "data" / f"unit={unit}"
    path.mkdir(parents=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), str(path / "part-0.parquet"))
    snaps = table / "_snapshots"
    snaps.mkdir(exist_ok=True)
    manifest = {"unit": unit, "path": str(path), "rows": len(df)}
    (snaps / f"{unit}.json").write_text(json.dumps(manifest))


def _units(table: Path, parts: list[pd.DataFrame]) -> None:
    for b, df in enumerate(parts):
        _commit(table, f"b{b:04d}", df)


def _split() -> list[pd.DataFrame]:
    # one frame per unit, whose per-(level, cell) sums give REF
    a = REF.assign(cnt=REF["cnt"] - 1)
    return [a, REF.assign(cnt=1)] + [REF.iloc[:0]] * (I.RUNNER_BUCKETS - 2)


def test_runner_check_accepts_the_union_and_catches_corruption(tmp_path):
    assert I.RUNNER_BUCKETS >= 2
    _units(tmp_path / "ok", _split())
    nbytes, bad = check_table(tmp_path / "ok", REF)
    assert bad is None and nbytes > 0

    dropped = _split()
    dropped[1] = dropped[1].iloc[1:]
    _units(tmp_path / "dropped", dropped)
    assert check_table(tmp_path / "dropped", REF)[1] is not None

    altered = _split()
    altered[0] = altered[0].assign(cnt=altered[0]["cnt"] + np.eye(1, len(REF), 2, dtype=int)[0])
    _units(tmp_path / "altered", altered)
    assert check_table(tmp_path / "altered", REF)[1] is not None

    dup = _split()
    dup[1] = pd.concat([dup[1], dup[1].iloc[:1]])
    _units(tmp_path / "dup", dup)
    assert "duplicate" in check_table(tmp_path / "dup", REF)[1]

    _units(tmp_path / "short", _split()[:-1])
    assert "committed units" in check_table(tmp_path / "short", REF)[1]


STREAM_REF = pd.DataFrame(
    {
        "win_start": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 00:10"]),
        "cell": [7, 8],
        "poly_id": [1, 2],
        "cnt": [5, 2],
    }
)


def test_stream_check_takes_the_latest_update_and_catches_corruption(tmp_path):
    early = STREAM_REF.iloc[:1].assign(cnt=3)
    _commit(tmp_path / "ok", "batch00000000", early)
    _commit(tmp_path / "ok", "batch00000001", STREAM_REF)
    assert check_stream(tmp_path / "ok", STREAM_REF) is None

    _commit(tmp_path / "dropped", "batch00000000", STREAM_REF.iloc[:1])
    assert check_stream(tmp_path / "dropped", STREAM_REF) is not None

    _commit(tmp_path / "stale", "batch00000000", STREAM_REF)
    _commit(tmp_path / "stale", "batch00000001", early)
    assert check_stream(tmp_path / "stale", STREAM_REF) is not None


def test_tail_percentile_keeps_ten_samples_beyond():
    assert run.tail(list(range(10))) is None
    t = run.tail([float(v) for v in range(40)])
    assert t["value"] == 29.0 and t["percentile"] == 75.0 and t["count"] == 40


def test_benchmark_json_matches_reported_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
