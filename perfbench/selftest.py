"""Self-test of the benchmark's own arithmetic: the SQL metric string
parser, the per-stage Python worker totals and span self time.  Runs at the start of every benchmark run;
also runnable alone::

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import math

from ledger import (Span, covered, parse_metric, python_node_totals,
                    self_time_by_name, self_times)

CANNED = {
    # per-task summary forms: the total is the value that counts
    "total (min, med, max (stageId: taskId))\n"
    "7.2 s (1.6 s, 1.9 s, 2.0 s (stage 0.0: task 1))": 7.2,
    "total (min, med, max (stageId: taskId))\n"
    "305.3 KiB (70.3 KiB, 78.3 KiB, 80.7 KiB (stage 0.0: task 1))":
        305.3 * 1024,
    "total (min, med, max (stageId: taskId))\n"
    "89 ms (6 ms, 32 ms, 38 ms (stage 0.0: task 1))": 0.089,
    "total (min, med, max (stageId: taskId))\n"
    "1.5 min (20.0 s, 30.0 s, 40.0 s (stage 2.0: task 9))": 90.0,
    # single values
    "538.0 KiB": 538.0 * 1024,
    "2.5 MiB": 2.5 * (1 << 20),
    "1.0 GiB": float(1 << 30),
    "17 B": 17.0,
    "32 ms": 0.032,
    "0 ms": 0.0,
    "1.2 s": 1.2,
    "2.00 h": 7200.0,
    "100": 100.0,
    "1,234,567": 1234567.0,
}


def check_parser() -> None:
    for text, want in CANNED.items():
        got = parse_metric(text)
        if not math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-12):
            raise AssertionError(f"parse_metric({text!r}) = {got}, "
                                 f"want {want}")
    for bad in ("", "n/a", "3 parsecs"):
        try:
            parse_metric(bad)
        except ValueError:
            continue
        raise AssertionError(f"parse_metric({bad!r}) did not raise")


def _summary(total: str, stage: int) -> str:
    return ("total (min, med, max (stageId: taskId))\n"
            f"{total} (1 ms, 2 ms, 3 ms (stage {stage}.0: task 7))")


# Python nodes of one warc-ingest SQL execution (Spark 4.1, 4 cores):
# stage 56 chains two MapInPandas nodes, stage 59 an ArrowEvalPython
# and two MapInPandas nodes; the last node carries no stage
CANNED_PLAN = [
    {"time to run Python workers": _summary("2.9 s", 56),
     "time to start Python workers": "0 ms",
     "data sent to Python workers": _summary("671.2 KiB", 56),
     "number of output rows": "400"},
    {"time to run Python workers": _summary("2.8 s", 56),
     "time to start Python workers": "0 ms",
     "data sent to Python workers": _summary("33.9 KiB", 56),
     "number of output rows": "400"},
    {"time to run Python workers": _summary("6.4 s", 59),
     "time to start Python workers": _summary("1.5 s", 59),
     "data returned from Python workers": _summary("693.4 KiB", 59),
     "number of output rows": "400"},
    {"time to run Python workers": _summary("4.5 s", 59),
     "time to start Python workers": _summary("2.0 s", 59),
     "number of output rows": "400"},
    {"time to run Python workers": _summary("4.3 s", 59),
     "number of output rows": "400"},
    {"time to run Python workers": "250 ms",
     "time to start Python workers": "0 ms",
     "number of output rows": "10"},
]


def check_python_nodes() -> None:
    got = python_node_totals(CANNED_PLAN)
    want = {"py.run_s": 2.9 + 6.4 + 0.25, "py.start_s": 2.0,
            "py.bytes_in": (671.2 + 33.9) * 1024,
            "py.bytes_out": 693.4 * 1024, "py.rows_in": 2010.0}
    for k, v in want.items():
        if not math.isclose(got[k], v, rel_tol=1e-9):
            raise AssertionError(f"python_node_totals {k} = {got[k]}, "
                                 f"want {v}")
    if python_node_totals([])["py.run_s"] != 0:
        raise AssertionError("no Python node runs for no time")


def check_self_time() -> None:
    if covered([(0, 2), (1, 3), (5, 6)], 0, 10) != 4:
        raise AssertionError("overlapping intervals must merge")
    if covered([(-5, 1), (9, 20)], 0, 10) != 2:
        raise AssertionError("intervals must clip to the parent")
    if covered([], 0, 1) != 0:
        raise AssertionError("no children covers nothing")
    # op [0, 10] ⊃ a [1, 4] ⊃ c [2, 3];  op ⊃ b [3, 6] (overlaps a)
    spans = [Span(1, "op", 0, None, 0.0, 10.0),
             Span(2, "a", 0, 1, 1.0, 4.0),
             Span(3, "c", 0, 2, 2.0, 3.0),
             Span(4, "b", 0, 1, 3.0, 6.0)]
    own = self_times(spans)
    want = {1: 5.0, 2: 2.0, 3: 1.0, 4: 3.0}
    if own != want:
        raise AssertionError(f"self_times = {own}, want {want}")
    if self_time_by_name(spans + [Span(5, "a", 0, 1, 7.0, 8.0)]) \
            != {"op": 4.0, "a": 3.0, "c": 1.0, "b": 3.0}:
        raise AssertionError("self time must sum per span name")


def run_all() -> None:
    check_parser()
    check_python_nodes()
    check_self_time()


if __name__ == "__main__":
    run_all()
    print("selftest ok")
