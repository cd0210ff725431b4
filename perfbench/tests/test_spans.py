"""Unit tests of the span bookkeeping (no Spark)."""

from __future__ import annotations

import json
import sys
import threading
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from spans import Tracer  # noqa: E402


def _span(tracer, name, layer, t0, t1, parent=None):
    with tracer.span(name, layer) as s:
        pass
    s.t0, s.t1, s.parent = t0, t1, parent
    return s


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer()
    root = _span(tr, "ingest.run_cycle", "ingest", 0.0, 10.0)
    _span(tr, "rpc.a", "rpc", 1.0, 4.0, root.sid)
    _span(tr, "rpc.b", "rpc", 2.0, 5.0, root.sid)   # overlaps rpc.a
    _span(tr, "store.commit", "store", 6.0, 9.0, root.sid)
    st = tr.self_times()
    assert st["ingest"] == 10.0 - 4.0 - 3.0
    assert st["rpc"] == 6.0
    assert st["store"] == 3.0
    assert tr.root_coverage(0.0, 20.0) == 0.5


def test_nesting_and_request_ids_follow_the_thread():
    tr = Tracer()
    seen = {}

    def worker():
        with tr.span("api.http", "api", rid="c1-7"):
            with tr.span("serving.get_block", "serving") as inner:
                seen["inner"] = inner

    t = threading.Thread(target=worker)
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    outer = tr.named("api.http")[0]
    assert seen["inner"].parent == outer.sid
    assert seen["inner"].rid == "c1-7"


def test_fanout_children_attach_to_the_fanout_span():
    tr = Tracer()
    box = []

    def receipt():
        with tr.span("rpc.get_transaction_receipt", "rpc") as s:
            box.append(s)

    with tr.span("ingest.enrich_receipts", "ingest", fanout=True) as fan:
        t = threading.Thread(target=receipt)
        t.start()
        t.join(timeout=10)
    with tr.span("rpc.after", "rpc") as after:
        pass
    assert box[0].parent == fan.sid
    assert after.parent is None


def test_error_is_recorded_and_reraised():
    tr = Tracer()
    try:
        with tr.span("serving.get_logs_page", "serving"):
            raise KeyError("x")
    except KeyError:
        pass
    assert tr.spans[0].error == "KeyError"


def test_jobs_are_attributed_to_spans_by_submission_time(tmp_path: Path):
    def app(path, jobs):
        events = []
        for stage, (t, written) in enumerate(jobs):
            events += [
                {"Event": "SparkListenerJobStart", "Submission Time": int(t * 1000),
                 "Stage IDs": [stage]},
                {"Event": "SparkListenerStageCompleted", "Stage Info": {
                    "Stage ID": stage, "Accumulables": [
                        {"Name": "internal.metrics.shuffle.write.bytesWritten",
                         "Value": written}]}},
            ]
        path.write_text("\n".join(json.dumps(e) for e in events) + "\n")

    tr = Tracer()
    tr.eventlog = tmp_path
    tr.epoch = 1000.0
    app(tmp_path / "local-1", [(1001.0, 5), (1002.5, 7)])   # a plain log file
    (tmp_path / "eventlog_v2_local-2").mkdir()              # a rolling log
    app(tmp_path / "eventlog_v2_local-2" / "events_1_local-2", [(1004.0, 11)])
    a = _span(tr, "store.commit", "store", 0.5, 3.0)
    b = _span(tr, "store.commit", "store", 3.5, 4.5)
    a.count_jobs = b.count_jobs = True
    tr.attribute_jobs()
    assert (a.jobs, a.bytes["shuffle_write"]) == (2, 12)
    assert (b.jobs, b.bytes["shuffle_write"]) == (1, 11)
