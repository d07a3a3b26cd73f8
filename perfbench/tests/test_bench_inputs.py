"""The seed contract: the same seed gives byte-identical inputs, another
seed different ones; stream files reach the watched directory only by
rename."""

from __future__ import annotations

import json
import os
import time

from perfbench import inputs, release


def _tree_bytes(path: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = f.read()
    return out


def test_tables_are_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    inputs.write_tables(a, 7, scale=0.001, docs=30, vectors=30)
    inputs.write_tables(b, 7, scale=0.001, docs=30, vectors=30)
    inputs.write_tables(c, 8, scale=0.001, docs=30, vectors=30)
    ta, tb, tc = _tree_bytes(a), _tree_bytes(b), _tree_bytes(c)
    assert len(ta) == 10
    assert ta == tb
    # every seeded table differs (region and nation are fixed dimension lists)
    differ = {name for name in ta if ta[name] != tc[name]}
    assert differ == set(ta) - {"region.parquet", "nation.parquet"}


def test_stream_files_are_byte_identical_per_seed(tmp_path):
    runs = {}
    for tag, seed in (("a", 3), ("b", 3), ("c", 4)):
        files = inputs.write_stream(str(tmp_path / tag), seed, n_files=4, events_per_file=200, event_s_per_file=15.0)
        runs[tag] = (files, _tree_bytes(str(tmp_path / tag)))
    assert runs["a"][1] == runs["b"][1]
    assert runs["a"][0] == runs["b"][0]
    assert all(runs["a"][1][n] != runs["c"][1][n] for n in runs["a"][1])


def test_stream_files_carry_duplicates_and_late_events_within_the_watermark(tmp_path):
    files = inputs.write_stream(str(tmp_path), 1, n_files=6, events_per_file=400, event_s_per_file=15.0)
    events = [e for f in files for e in f["events"]]
    hashes = [h for h, _, _ in events]
    assert len(set(hashes)) < len(hashes)  # re-delivered duplicates
    seen = {}
    for h, ts, fee in events:
        assert seen.setdefault(h, (ts, fee)) == (ts, fee)  # a duplicate repeats its event exactly
    running_max, out_of_order = 0, 0
    for f in files:
        fresh = [ts for h, ts, _ in f["events"] if hashes.count(h) == 1]
        out_of_order += sum(ts < running_max for ts in fresh)
        assert all(ts > running_max - 60_000_000 for ts in fresh)  # never behind the 60 s watermark
        running_max = max(running_max, f["max_ts"])
    assert out_of_order > 0


def test_release_renames_each_file_into_the_watched_directory(tmp_path):
    stage, watch = tmp_path / "stage", tmp_path / "watch"
    watch.mkdir()
    files = inputs.write_stream(str(stage), 1, n_files=3, events_per_file=10, event_s_per_file=15.0)
    plan = tmp_path / "plan.json"
    plan.write_text(json.dumps({"stage": str(stage), "watch": str(watch), "names": [f["name"] for f in files],
                                "start": time.monotonic(), "interval": 0.05}))
    log = tmp_path / "log.jsonl"
    assert release.main(str(plan), str(log)) == 0
    assert sorted(os.listdir(watch)) == [f["name"] for f in files]
    assert os.listdir(stage) == []
    rows = [json.loads(line) for line in log.read_text().splitlines()]
    assert [r["i"] for r in rows] == [0, 1, 2]
    assert all(r["at"] >= r["due"] for r in rows)
