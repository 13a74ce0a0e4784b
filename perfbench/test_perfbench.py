"""Tests for the benchmark's own tools.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
import threading
from types import SimpleNamespace

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import eventlog  # noqa: E402
import tracing  # noqa: E402


class FakeClient:
    def __init__(self):
        self.sent = []

    def send_command(self, command, *args, **kwargs):
        self.sent.append(command)
        return "yv"


def test_counter_leaves_out_memory_deletes_other_threads_and_pauses():
    client = FakeClient()
    counter = tracing.Py4jCounter(client)
    client.send_command("c\no0\nfoo\ne\n")
    client.send_command("m\nd\no12\ne\n")  # proxy garbage-collected
    with counter.paused():
        client.send_command("c\no0\nsetJobGroup\ne\n")
    t = threading.Thread(target=client.send_command, args=("c\no1\nbar\ne\n",))
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    assert counter.count == 1
    assert len(client.sent) == 4
    counter.close()
    client.send_command("c\no0\nfoo\ne\n")
    assert counter.count == 1


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run as harness

    work = str(tmp_path_factory.mktemp("perfbench"))
    harness.prepare_env(work, trace=False)
    from cascading_hbase_spark.session import get_session

    s = get_session("perfbench-test")
    s.sparkContext.setLogLevel("ERROR")
    yield s, work
    harness.stop_session(s)


def test_counter_repeats_exactly_across_builds(spark):
    """The same plan build sends the same number of counted commands
    every time, even with garbage collection running in between."""
    import gc

    import datagen
    from cascading_hbase_spark.queries import QUERIES

    s, work = spark
    data = os.path.join(work, "data")
    datagen.write_tables(data, 0.001)
    tracer = tracing.Tracer(s)
    tracer.enabled = True
    counts = []
    for name in ("dedup_minhash_lsh", "setsim_prefix_jaccard"):
        QUERIES[name](s, data)  # first build warms caches
        per = []
        for _ in range(5):
            gc.collect()
            with tracer.span("queries.build") as sp:
                QUERIES[name](s, data)
            per.append(sp.py4j)
        counts.append(per)
    tracer.close()
    for per in counts:
        assert per[0] > 100 and len(set(per)) == 1, counts


def test_parser_on_recorded_log():
    """A recorded log of three jobs under group perfbench-0 (one
    shuffle job with a skipped stage), one mapInPandas job under
    perfbench-1 and one job outside any group."""
    log = eventlog.read(os.path.join(HERE, "testdata", "eventlog_small.jsonl"))
    assert sorted(log.jobs) == [0, 1, 2, 3, 4]
    groups = [log.jobs[j].group for j in sorted(log.jobs)]
    assert groups == ["perfbench-0"] * 3 + ["perfbench-1", None]
    t = log.totals(list(log.jobs.values()))
    assert (t["jobs"], t["stages"], t["tasks"], t["task_failures"]) == (5, 5, 9, 0)
    assert t["shuffle_read_bytes"] == t["shuffle_write_bytes"] == 6701
    assert t["python_stage_run_s"] == pytest.approx(3.84)
    assert t["executor_run_s"] == pytest.approx(4.602)
    assert log.totals([log.jobs[3]])["python_stage_run_s"] == pytest.approx(3.84)

    last = log.jobs[4].submit_ms
    spans = [
        tracing.Span(0, "queries.build", None, 0.0, 1.0),
        tracing.Span(1, "keyed.get_keyed", None, 0.0, 1.0),
        tracing.Span(2, "streaming.drain", None, last - 1, last + 1),
    ]
    by_span = eventlog.attribute(log, spans, "perfbench-")
    assert [j.job_id for j in by_span[0]] == [0, 1, 2]
    assert [j.job_id for j in by_span[1]] == [3]
    assert [j.job_id for j in by_span[2]] == [4]  # by submission time


def test_digest_ignores_row_and_column_order():
    df = pd.DataFrame({"a": [1, 2, 3], "b": [0.1 + 0.2, None, -0.0], "c": ["x", None, "z"]})
    same = df.iloc[::-1][["c", "b", "a"]]
    assert checks.digest(df) == checks.digest(same)
    changed = df.copy()
    changed.loc[0, "b"] = 0.31
    assert checks.digest(df) != checks.digest(changed)


def test_altered_result_is_a_failed_op(tmp_path, monkeypatch):
    """An entry whose output differs from its recorded fingerprint
    counts as a failed op in every pass, and only that entry does; one
    that goes wrong only after the warm pass fails every timed run it
    made, through the check after the window."""
    import workloads as W

    good = pd.DataFrame({"k": [1, 2], "v": [10.5, 20.25]})
    altered = good.assign(v=[10.5, 20.26])
    fp = tmp_path / "fingerprints.json"
    fp.write_text(json.dumps({"entries": {
        name: checks.digest(good) for name in ("q_ok", "q_bad", "q_late")}}))
    monkeypatch.setattr(W, "FINGERPRINTS", str(fp))
    monkeypatch.setattr(W, "FINAL_CHECKS", 3)
    monkeypatch.setattr(W.pq, "read_metadata", lambda *a, **k: SimpleNamespace(num_rows=0))
    run = W.Run(None, 7, 0.0, str(tmp_path), tracing.Tracer())
    a = W.Analytics(run)
    a.build = lambda d: None
    a.entries = ["q_ok", "q_bad", "q_late"]
    outputs = {"q_ok": good, "q_bad": altered, "q_late": good}
    a.result_digest = lambda name: checks.digest(outputs[name])
    a.entry = lambda name: None
    a.setup()
    a.one_pass()
    a.one_pass()
    assert a.bad == {"q_bad"}
    assert (run.attempted, run.failed) == (6, 2)
    outputs["q_late"] = altered  # wrong on second and later use
    a.finish()
    assert a.bad == {"q_bad", "q_late"}
    assert (run.attempted, run.failed) == (6, 4)


def test_set_up_repeats_on_fresh_directories(tmp_path):
    """Each set-up gets a directory of its own and is timed; the last
    directory is the one served."""
    import workloads as W

    run = W.Run(None, 1, 0.0, str(tmp_path), tracing.Tracer())
    seen = []
    kept = run.set_up(seen.append)
    assert len(set(seen)) == W.SETUP_REPS and kept == seen[-1]
    assert len(run.extra["setup_s"]) == W.SETUP_REPS


def test_scan_checks_survive_deletes_and_flag_wrong_rows(spark, tmp_path, monkeypatch):
    """Scans are checked as they run, so a later delete that overlaps a
    scanned range leaves finish() passing; a scan that disagrees with
    the model is a failed op."""
    import workloads as W
    from cascading_hbase_spark.keyed import table as keyed

    s, _ = spark
    monkeypatch.setattr(W, "SF", 0.001)
    run = W.Run(s, 3, 0.0, str(tmp_path), tracing.Tracer())
    ks = W.KeyedServe(run)
    ks.setup()
    for kind in ("scan", "get", "scan", "upsert", "scan"):
        ks.op(kind)
    dead = list(range(0, ks.n, 3))  # overlaps every 1% scan range
    keyed.delete_keyed(s, ks.path, s.createDataFrame([(k,) for k in dead], "o_orderkey long"))
    for k in dead:
        del ks.model[k]
    ks.finish()
    assert (run.attempted, run.failed) == (5, 0)
    ks.model = {k: r[:1] + ("?",) + r[2:] for k, r in ks.model.items()}
    ks.op("scan")
    assert (run.attempted, run.failed) == (6, 1)
