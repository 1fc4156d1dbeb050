"""bench.py driver-contract line: must survive the 2000-byte tail capture.

The driver records only the tail of bench.py's stdout and json-parses the
LAST line. Rounds 5 and 9 both shipped `parsed: null` because a per-query
dict rode on that line and outgrew the tail as query count grew. These
tests pin the fix: the contract line is O(1)-sized in query count and
parses out of a simulated truncated tail no matter how many queries run.

The last tests pin the shared timing loops: ``bench.run_query``, the one
bench.py and the tools/ harnesses share (CACHE_DEPS warm untimed, then
the timed construction + noop write, then clearCache), and
``bench_ingest``'s ``stage`` + ``replay``, which every ingest mode runs
through (staged file ``i`` is epoch ``i``, and the checkpoint goes away).
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from bench import CONTRACT_LINE_MAX_BYTES, build_contract_line, run_query  # noqa: E402

DRIVER_TAIL_BYTES = 2000


def _simulated_stdout(n_queries: int) -> str:
    """Reproduce bench.py's stdout shape for n_queries queries."""
    timings = {f"query_with_a_long_descriptive_name_{i:04d}": 1.234 for i in range(n_queries)}
    spread = {
        name: {"min": 1.2, "med": 1.3, "max": 9.9, "n": 3} for name in timings
    }
    sf_dir = "/root/testdata/sf0.1"
    lines = [
        json.dumps({"spread": spread}),
        json.dumps({"queries": timings, "sf": sf_dir}),
        build_contract_line(round(sum(timings.values()), 3), len(timings), sf_dir),
    ]
    return "\n".join(lines) + "\n"


def _driver_parse(stdout: str) -> dict | None:
    """The driver's parse: keep the tail, json-load the last non-empty line."""
    tail = stdout[-DRIVER_TAIL_BYTES:]
    for line in reversed(tail.strip().splitlines()):
        line = line.strip()
        if not line:
            continue
        try:
            return json.loads(line)
        except json.JSONDecodeError:
            return None
    return None


@pytest.mark.parametrize("n_queries", [1, 71, 200, 1000])
def test_contract_line_survives_tail_truncation(n_queries):
    parsed = _driver_parse(_simulated_stdout(n_queries))
    assert parsed is not None
    assert parsed["metric"] == "total_query_seconds"
    assert parsed["unit"] == "sec"
    assert parsed["n_queries"] == n_queries
    assert isinstance(parsed["value"], float)
    assert "queries" not in parsed  # per-query payload must never ride here


def test_contract_line_is_small_and_fixed_size():
    a = build_contract_line(42.0, 1, "/root/testdata/sf0.1")
    b = build_contract_line(4242.123, 100000, "/root/testdata/sf0.1")
    assert len(a.encode()) <= CONTRACT_LINE_MAX_BYTES
    assert len(b.encode()) <= CONTRACT_LINE_MAX_BYTES
    # size is O(1) in query count: growing n_queries 5 orders of magnitude
    # moves the line by the digit width only
    assert abs(len(b) - len(a)) < 20


def test_contract_line_rejects_oversize():
    with pytest.raises(ValueError):
        build_contract_line(1.0, 1, "x" * (CONTRACT_LINE_MAX_BYTES + 1))


def test_run_query_warms_deps_untimed_then_times_and_clears_cache(spark, monkeypatch):
    calls = []

    def slow_warm(spark_, sf_dir, deps):
        calls.append(("warm", sf_dir, tuple(deps)))
        time.sleep(3)

    monkeypatch.setattr(entry_mod, "warm_caches", slow_warm)
    monkeypatch.setitem(entry_mod.CACHE_DEPS, "fake_probe", ("pairs", "lsh"))
    cache = spark._jsparkSession.sharedState().cacheManager()

    def fn(spark_, sf_dir):
        calls.append(("fn", sf_dir))
        df = spark_.range(100).persist()
        calls.append(("cached", not cache.isEmpty()))
        return df

    timed_s, warm_s = run_query(spark, "/sf", "fake_probe", fn)
    assert calls == [
        ("warm", "/sf", ("pairs", "lsh")),
        ("fn", "/sf"),
        ("cached", True),
    ]
    assert warm_s >= 3
    assert timed_s < 3
    assert cache.isEmpty()


def test_bench_ingest_stage_replays_each_frame_as_its_epoch(spark, monkeypatch, tmp_path):
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    import bench_ingest

    frames = [spark.range(3 * i, 3 * i + 3, numPartitions=1) for i in range(3)]
    src = bench_ingest.stage(frames)
    got = []
    wall, epoch_walls = bench_ingest.replay(
        spark, src, lambda df, e: got.append((e, [r.id for r in df.orderBy("id").collect()]))
    )
    assert got == [(0, [0, 1, 2]), (1, [3, 4, 5]), (2, [6, 7, 8])]
    assert len(epoch_walls) == 3 and wall >= sum(epoch_walls)
    assert [p.name.split("-")[2] for p in tmp_path.iterdir()] == ["src"]
