"""Plan-graph metric parsing and the latency quantile. No Spark needed."""

from __future__ import annotations

import importlib.util
import os

import tracing

DOT = (
    '  3 [id="node3" labelType="html" label="<b>ArrowEvalPython</b><br><br>'
    "time to run Python workers total (min, med, max (stageId: taskId))<br>"
    "2.6 s (628 ms, 669 ms, 670 ms (stage 3.0: task 5))<br>"
    "data returned from Python workers total (min, med, max (stageId: taskId))<br>"
    "8.0 KiB (2.0 KiB, 2.0 KiB, 2.0 KiB (stage 3.0: task 6))<br>"
    "data sent to Python workers total (min, med, max (stageId: taskId))<br>"
    "1.5 MiB (2.1 KiB, 2.1 KiB, 2.1 KiB (stage 3.0: task 6))<br>"
    'number of output rows: 1,000" tooltip="ArrowEvalPython"];\n'
    '  5 [id="node5" labelType="html" label="<b>Scan parquet </b><br><br>'
    "number of files read: 3<br>size of files read: 2.6 MiB<br>"
    'number of output rows: 150,000" tooltip="FileScan parquet"];\n'
)


def test_parse_plan_nodes():
    (py_name, py), (scan_name, scan) = tracing.parse_plan_nodes(DOT)
    assert py_name == "ArrowEvalPython"
    assert py["data sent to Python workers"] == 1.5 * 2**20
    assert py["data returned from Python workers"] == 8 * 2**10
    assert py["number of output rows"] == 1000
    assert scan_name == "Scan parquet"
    assert scan["number of files read"] == 3
    assert scan["number of output rows"] == 150_000


def test_short_label():
    assert tracing._short_label("checkpoint_stage:/a/b/stage0/") == "checkpoint_stage:stage0"
    assert tracing._short_label("outbound_candidates") == "outbound_candidates"


def test_quantile_takes_the_higher_neighbour():
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(os.path.dirname(tracing.__file__), "run.py")
    )
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    xs = [0.5, 0.6, 0.7, 2.0, 3.5, 3.6, 4.4, 5.3]
    assert run.quantile(xs, 0.5) == 3.5
    assert run.quantile(xs, 0.9) == 5.3
    assert run.quantile(list(range(32)), 0.9) == 28
    assert run.quantile([1.0], 0.9) == 1.0
