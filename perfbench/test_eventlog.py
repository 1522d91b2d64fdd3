"""Event-log parser on a small recorded Spark 4.1 log.

The log under testdata/ was recorded from one tagged job
(``test:extract``: the HTML tokenizer UDF plus a salted reassembly over
40 spans in 4 partitions) and one untagged job, in Spark's default
rolling layout, split into two ``events_<n>`` parts. Environment and
host-specific events were dropped. Run with
``python -m pytest perfbench/test_eventlog.py``.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import eventlog  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")


def test_rolling_parts_are_read_in_order():
    files = eventlog.event_files(LOG)
    assert [os.path.basename(f) for f in files] == [
        "events_1_local-recorded",
        "events_2_local-recorded",
    ]
    kinds = [e["Event"] for e in eventlog.read_events(LOG)]
    assert kinds.count("SparkListenerJobStart") == kinds.count("SparkListenerJobEnd") > 0


def test_stages_are_attributed_to_their_job_description():
    log = eventlog.parse(LOG)
    tagged = log.select("test:extract")
    assert tagged and len(tagged) < len(log.stages)
    for st in log.stages.values():
        assert st.tasks == len(st.task_ms) == len(st.task_spans) > 0
        assert st.failed_tasks == 0
        assert st.task_skew >= 1.0
    assert sum(s.run_ms for s in tagged) > 0
    assert sum(s.shuffle_write_bytes for s in tagged) > 0
    assert sum(s.shuffle_read_bytes for s in tagged) > 0


def test_python_worker_time_maps_to_the_udf_node():
    log = eventlog.parse(LOG)
    tagged = log.select("test:extract")

    def is_html_udf(n):
        return n.name == "ArrowEvalPython" and "dom_blocks_udf" in n.desc

    run_ids, kind = log.node_metric(is_html_udf, "time to run Python workers")
    assert run_ids and kind == "timing"
    rows_ids, _ = log.node_metric(is_html_udf, "number of output rows")
    assert log.accum_total(rows_ids, tagged) == 40
    assert log.accum_total(run_ids, tagged) > 0
    udf_stages = log.stages_with(run_ids, tagged)
    assert len(udf_stages) == 1
    # Python worker time is a share of the stage's executor run time
    assert log.accum_total(run_ids, udf_stages) <= udf_stages[0].run_ms


def test_task_util_is_a_share_of_core_time():
    log = eventlog.parse(LOG)
    stages = list(log.stages.values())
    start = min(a for s in stages for a, _ in s.task_spans)
    end = max(b for s in stages for _, b in s.task_spans)
    util = eventlog.task_util(stages, cores=4, wall_s=(end - start) / 1000)
    assert 0.0 < util <= 1.0


def test_compressed_logs_are_refused(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app.zstd").write_bytes(b"")
    with pytest.raises(ValueError, match="compress"):
        eventlog.event_files(str(tmp_path))


def test_a_plain_file_is_read_directly(tmp_path):
    src = eventlog.event_files(LOG)[0]
    plain = tmp_path / "app-1"
    plain.write_text(open(src).read())
    assert eventlog.event_files(str(plain)) == [str(plain)]
    assert eventlog.event_files(str(tmp_path)) == [str(plain)]
