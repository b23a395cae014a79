from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from spark_kinesis_article_analysis_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


#: File-level marker map (see pytest.ini): lets time-boxed runs split
#: the ~27-minute full suite into reproducible chunks with -m instead
#: of hand-maintained --ignore lists.
_MARKS_BY_FILE = {
    "test_differential_fuzz.py": "fuzz",
    "test_properties.py": "fuzz",
    "test_oracle_parity.py": "parity",
    "test_streaming.py": "streaming",
    "test_streaming_dedup_lsh.py": "streaming",
    "test_streaming_sketch.py": "streaming",
    "test_replay_source.py": "streaming",
    "test_kinesis_api.py": "streaming",
}


#: r13 (VERDICT r12 #6): the heavy END-TO-END modules — micro-batch
#: streaming engines with restart/checkpoint cycles, wire-protocol and
#: manifest-DML round trips, generative differential fuzz — carry a
#: `slow` mark on top of their family mark. pytest.ini deselects them
#: by default (`-m "not slow"`) so the plain `python -m pytest tests/`
#: verify lane fits the driver's capture window (~11 min of test time
#: vs the ~28-min full suite, measured 2026-08-18); the FULL suite is
#: the documented manual lane:
#:
#:     python -m pytest tests/ -q -m ""
#:
#: (an explicit empty -m overrides the addopts deselection — every test
#: runs). Call-time shares at the 2026-08-18 measurement are noted per
#: file; re-derive with `pytest --durations=0` before re-tiering.
_SLOW_FILES = {
    "test_differential_fuzz.py",    # 447 s — hypothesis corpora x engines
    "test_streaming.py",            # 225 s — micro-batch semantics + restarts
    "test_streaming_sketch.py",     # 77 s
    "test_table_stream.py",         # 65 s
    "test_replay_source.py",        # 59 s
    "test_streaming_dedup_lsh.py",  # 50 s
    "test_s3_incremental.py",       # 35 s — manifest DML round trips
    "test_streaming_join.py",       # 31 s
    "test_kinesis_api.py",          # 18 s — wire-protocol round trips
    "test_streaming_gate.py",       # 17 s
    "test_streaming_ann.py",        # 13 s
}


def pytest_collection_modifyitems(items):
    for item in items:
        name = Path(item.fspath).name
        mark = _MARKS_BY_FILE.get(name)
        if mark:
            item.add_marker(getattr(pytest.mark, mark))
        if name in _SLOW_FILES:
            item.add_marker(pytest.mark.slow)


def pytest_terminal_summary(terminalreporter, config):
    """Make the default lane's reduced coverage visible: one line naming
    how many slow tests ``-m "not slow"`` deselected, and the full lane."""
    if config.option.markexpr != "not slow":
        return
    n = sum(1 for item in terminalreporter.stats.get("deselected", []) if item.get_closest_marker("slow"))
    if n:
        terminalreporter.write_line(f'{n} slow tests deselected — full lane: python -m pytest tests/ -q -m ""')


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()
