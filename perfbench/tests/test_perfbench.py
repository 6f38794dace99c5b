"""Tests of the benchmark itself (not of the package it measures).

Run from the repository root::

    python3 -m pytest perfbench/tests -q

No SparkSession is started: the generator's encoder, the digests, the
lag computation and the metric lists are all Spark-free.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import lag  # noqa: E402
import run  # noqa: E402


def _history_bytes(d: str, seed: int) -> tuple[dict, dict[str, bytes]]:
    os.makedirs(d)
    meta = gen.build_history(d, gen.params_for(seed), images=3_000, n_files=3)
    series = meta["series"]
    return meta, {n: open(os.path.join(series, n), "rb").read() for n in sorted(os.listdir(series))}


def test_generator_is_deterministic_per_seed(tmp_path):
    assert gen.params_for(7) == gen.params_for(7)
    meta_a, files_a = _history_bytes(str(tmp_path / "a"), 7)
    meta_b, files_b = _history_bytes(str(tmp_path / "b"), 7)
    assert files_a == files_b
    for k in ("state", "prefix_h", "last_gno", "images", "bytes"):
        assert meta_a[k] == meta_b[k]
    meta_c, files_c = _history_bytes(str(tmp_path / "c"), 8)
    assert files_c != files_a and meta_c["state"] != meta_a["state"]


def test_live_plan_is_deterministic_and_slices_whole_transactions(tmp_path):
    metas = []
    for name in ("a", "b"):
        d = tmp_path / name
        d.mkdir()
        metas.append(gen.build_live(str(d), gen.params_for(3), keys=500, images_live=600,
                                    rotate_bytes=8 << 10))
        assert (d / "plan.bin").read_bytes() == (tmp_path / "a" / "plan.bin").read_bytes()
    assert metas[0] == metas[1]
    assert len(metas[0]["files"]) > 1  # the size cap rotates files
    blob = (tmp_path / "a" / "plan.bin").read_bytes()
    for f in metas[0]["files"]:
        h_off, h_len = f["head"]
        pos = h_len
        for _gno, off, length, end, _n in f["txns"]:
            assert blob[off + 4] == 33  # every slice starts with a GTID event
            pos += length
            assert end == pos  # end offsets are positions in the file
    assert sum(t[4] for f in metas[0]["files"] for t in f["txns"]) == metas[0]["live_images"]


def test_checker_catches_one_dropped_and_one_duplicated_row():
    model, txns = gen.history_txns(gen.params_for(5), images=2_000)
    rows = [(k, *v) for k, v in model.state.items()]
    want = gen.digest(rows)
    assert gen.digest(list(reversed(rows))) == want  # order does not matter
    assert gen.digest(rows[:-1]) != want
    assert gen.digest(rows + rows[:1]) != want
    # a duplicate that replaces a dropped row keeps the count, not the hash
    assert gen.digest(rows[:-1] + rows[:1]) != want


def test_expected_after_matches_the_images_past_the_bound():
    tmp = gen.params_for(9)
    _model, txns = gen.history_txns(tmp, images=2_000)
    meta = {"last_gno": txns[-1]["gno"], "prefix_n": [0], "prefix_h": [0]}
    for t in txns:
        n, h = gen.digest(t["images"])
        meta["prefix_n"].append(meta["prefix_n"][-1] + n)
        meta["prefix_h"].append((meta["prefix_h"][-1] + h) % (1 << 64))
    bound = len(txns) - 17
    after = [img for t in txns if t["gno"] > bound for img in t["images"]]
    assert gen.expected_after(meta, bound) == gen.digest(after)
    assert gen.expected_after(meta, bound) != gen.digest(after[1:])


def test_lag_from_a_synthetic_progress_log():
    # (gno, file seq, end byte in file, due, wrote)
    appended = [
        [1, 2, 100, 10.0, 10.0],
        [2, 2, 200, 10.5, 10.5],
        [3, 2, 300, 11.0, 11.0],  # file 2 is then sealed
        [4, 3, 150, 11.5, 11.5],
        [5, 3, 260, 12.0, 12.0],
    ]
    progress = [
        (10.9, 2, 120),   # covers gno 1 only
        (12.1, 3, 150),   # a later file covers the rest of file 2, and gno 4
        (13.0, 3, 259),   # one byte short of gno 5's end
        (13.4, 3, 400),
    ]
    got = lag.visible_lags(appended, progress)
    want = [0.9, 12.1 - 10.5, 12.1 - 11.0, 12.1 - 11.5, 13.4 - 12.0]
    assert [round(x, 6) for x in got] == [round(x, 6) for x in want]
    assert lag.visible_lags(appended, progress[:2])[-1] is None  # never visible


def test_benchmark_json_lists_exactly_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
