"""File → micro-batch latency mapping from a streaming checkpoint, and
the cleaning replay the feed check compares against."""

import datetime as dt
import json
import os

from benchmark import stats


def _log(path, entries):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write("v1\n")
        for e in entries:
            fh.write(json.dumps(e) + "\n")


def _checkpoint(tmp_path):
    ck = tmp_path / "ck"
    src = ck / "sources" / "0"
    # batch 0 and 1 logs, then a compacted log folding both plus batch 2
    _log(str(src / "0"), [{"path": "file:///in/a.csv", "timestamp": 1, "batchId": 0}])
    _log(str(src / "1"), [{"path": "file:///in/b.csv", "timestamp": 1, "batchId": 1}])
    _log(str(src / "2.compact"), [
        {"path": "file:///in/a.csv", "timestamp": 1, "batchId": 0},
        {"path": "file:///in/b.csv", "timestamp": 1, "batchId": 1},
        {"path": "file:///in/c%20d.csv", "timestamp": 1, "batchId": 2},
    ])
    commits = ck / "commits"
    commits.mkdir(parents=True)
    for batch, t in ((0, 100.0), (1, 101.5)):  # batch 2 never committed
        p = commits / str(batch)
        p.write_text("v1\n{}\n")
        os.utime(p, (t, t))
    (commits / ".1.crc").write_text("")
    return str(ck)


def test_file_batches_reads_plain_and_compacted_logs(tmp_path):
    ck = _checkpoint(tmp_path)
    assert stats.file_batches(ck) == {"/in/a.csv": 0, "/in/b.csv": 1, "/in/c d.csv": 2}
    assert stats.commit_times(ck) == {0: 100.0, 1: 101.5}


def test_latency_runs_from_write_to_commit_and_flags_uncommitted(tmp_path):
    ck = _checkpoint(tmp_path)
    written = {"/in/a.csv": 99.0, "/in/b.csv": 99.5, "/in/c d.csv": 99.9, "/in/never.csv": 99.0}
    lat, missing = stats.file_latencies(written, stats.file_batches(ck), stats.commit_times(ck))
    assert lat == {"/in/a.csv": 1.0, "/in/b.csv": 2.0}
    assert sorted(missing) == ["/in/c d.csv", "/in/never.csv"]


def test_missing_checkpoint_maps_nothing(tmp_path):
    assert stats.file_batches(str(tmp_path / "nope")) == {}
    assert stats.commit_times(str(tmp_path / "nope")) == {}


def test_cleaning_replay_applies_c1_to_c6():
    from benchmark import gen
    from benchmark.feed_drain import replay_clean

    raw = {c: None for c in gen.CSV_COLUMNS}
    raw.update({"Time": "07-04-2025 13:45", "Frequency band": "B3", "Integrity": "OK",
                "Downlink bandwidth": "20", "FT_UL.Interference": " NIL ",
                gen.CSV_COLUMNS[12]: "55.5"})
    out = replay_clean(raw)
    assert out["Time"] == dt.datetime(2025, 7, 4, 13, 45)
    assert out["Downlink EARFCN"] == 0 and out["Downlink bandwidth"] == 20  # C2
    assert out["eNodeB Name"] == "N/A" and out["Cell Name"] == "N/A"  # C3
    assert out["Latitude"] == 999.0 and out["Longitude"] == 999.0  # C4
    assert out[gen.CSV_COLUMNS[11]] == 0.0 and out[gen.CSV_COLUMNS[13]] == 0  # C5
    assert out[gen.CSV_COLUMNS[12]] == 55.5
    assert out["FT_UL_Interference"] == "0"  # P3 + C6
    assert "Integrity" not in out and "FT_UL.Interference" not in out  # P1, P3
    assert replay_clean({**raw, "Time": "2025/13/45 99:99"})["Time"] is None


def test_feed_generator_is_seeded_and_counts_what_it_injects():
    import numpy as np

    from benchmark import gen

    p = gen.FeedProfile(rows_per_file=300, malformed_share=0.05)
    a = gen.feed_csv(np.random.default_rng(7), "f", p)
    b = gen.feed_csv(np.random.default_rng(7), "f", p)
    assert a == b
    text, good, bad, samples = a
    lines = text.splitlines()[1:]
    assert good + bad == len(lines) == 300
    assert bad == sum(1 for ln in lines if ",x" in ln)
    assert len(samples) == len(range(0, 300, p.sample_every))
