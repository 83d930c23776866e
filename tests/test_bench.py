"""bench.py's SIGTERM contract: once the last protected block is done,
a TERM must no longer raise — it would escape payload assembly or the
snapshot write and lose the one JSON line the harness exists to print."""

from __future__ import annotations

import importlib.util
import inspect
import json
import os
import signal
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(REPO, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_main_swaps_to_flag_only_handler_after_last_protected_block():
    src = inspect.getsource(_load_bench().main)
    swap = src.index("signal.signal(signal.SIGTERM, _note_term)")
    assert swap > src.rindex("except _Term:")
    assert src.index("_emit(") > swap


def test_late_sigterm_still_prints_the_line(tmp_path, capsys):
    bench = _load_bench()
    stopped = []

    class _Spark:
        def stop(self):
            stopped.append(True)

    old = signal.signal(signal.SIGTERM, bench._note_term)  # main()'s swap
    try:
        os.kill(os.getpid(), signal.SIGTERM)
        deadline = time.monotonic() + 5
        while not bench._TERM_LATE and time.monotonic() < deadline:
            time.sleep(0.01)
        snap = tmp_path / "BENCH_PARTIAL.json"
        payload = {"metric": "declared_queries_total_wall", "value": 1.5}
        bench._emit(payload, str(snap), {**payload, "queries_full": {}}, _Spark())
    finally:
        signal.signal(signal.SIGTERM, old)
    assert bench._TERM_LATE
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert json.loads(line) == payload
    assert json.loads(snap.read_text())["queries_full"] == {}
    assert not stopped  # a late TERM skips the Spark stop
