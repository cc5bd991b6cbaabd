import os

import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data")


def test_summarizer_on_canned_log():
    files = eventlog.event_files(DATA)
    assert [os.path.basename(f) for f in files] == ["events_1_local-1"]
    s = eventlog.summarize(eventlog.read_events(files), "c")
    assert s["spark_jobs"] == 4
    d = s["decode_stage"]
    assert d["tasks"] == 3
    assert d["wall_s"] == 2.0            # 2000 -> 4000 ms
    assert d["task_s"] == 3.4
    assert abs(d["cpu_s"] - 0.1) < 1e-12
    assert d["task_max_s"] == 1.9
    assert d["task_p50_s"] == 1.0
    assert s["light_stage"] == {"wall_s": 0.5, "task_s": 0.4, "cpu_s": 0.3}
    # only the write phase's WriteFiles stage, not the lineage append
    assert s["write_stage"] == {"wall_s": 0.7, "task_s": 1.1}
    assert s["shuffle_write_mb"] == 2.0
    assert s["shuffle_read_mb"] == 5.0
    assert s["spill_mb"] == 2.0
    assert s["jobs"] == [["c:pre", 1.0, 1.3], ["c:write", 1.9, 4.05],
                         ["c:write", 4.05, 4.85],
                         ["c:lineage", 4.95, 5.15]]


def test_other_calls_are_ignored():
    s = eventlog.summarize(
        eventlog.read_events(eventlog.event_files(DATA)), "other")
    assert s["spark_jobs"] == 1
    assert s["decode_stage"]["tasks"] == 1
    assert s["write_stage"]["task_s"] == 0.0
