"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import csv
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import stats  # noqa: E402
from spans import Tracer, instrument, restore  # noqa: E402

_TIME = re.compile(r"^[0-9]{2}:[0-9]{2}:[0-9]{2}$")


def _is_valid(row: dict) -> bool:
    """The Silver DQ rules of ``functions.validation.callcenter_rules``,
    restated over raw CSV fields."""
    cid = row["call_id"]
    return (
        cid.isdigit()
        and row["caller_id"] != ""
        and row["agent_id"] != ""
        and bool(_TIME.match(row["call_start_time"]))
        and bool(_TIME.match(row["call_end_time"]))
        and row["call_status"].upper() in datagen.STATUSES
    )


def _read(path: str) -> list[dict]:
    with open(path, newline="") as fh:
        return list(csv.DictReader(fh))


def test_call_batches_are_deterministic(tmp_path):
    a = datagen.write_call_batches(str(tmp_path / "a"), 7, 300, 80, 3)
    b = datagen.write_call_batches(str(tmp_path / "b"), 7, 300, 80, 3)
    c = datagen.write_call_batches(str(tmp_path / "c"), 8, 300, 80, 3)
    for x, y, z in zip(a["batches"], b["batches"], c["batches"]):
        with open(x["path"], "rb") as fx, open(y["path"], "rb") as fy, open(z["path"], "rb") as fz:
            bx = fx.read()
            assert bx == fy.read()
            assert bx != fz.read()
    assert {k: v for k, v in a.items() if k != "batches"} == {
        k: v for k, v in b.items() if k != "batches"
    }


def test_call_batches_expected_counts(tmp_path):
    exp = datagen.write_call_batches(str(tmp_path), 3, 500, 120, 4, invalid_share=0.02)
    valid_ids, n_invalid, n_rows, n_bytes = set(), 0, 0, 0
    for i, batch in enumerate(exp["batches"]):
        rows = _read(batch["path"])
        ids = [r["call_id"] for r in rows if _is_valid(r)]
        assert len(ids) == len(set(ids)) == batch["valid"]  # one row per key per file
        assert len(rows) - len(ids) == batch["invalid"]
        if i:
            # half updates of ids already loaded, half new ids
            assert len(set(ids) & valid_ids) == 60
        valid_ids.update(ids)
        n_invalid += batch["invalid"]
        n_rows += len(rows)
        n_bytes += os.path.getsize(batch["path"])
    assert exp["silver_rows"] == len(valid_ids) == 500 + 4 * 60
    assert exp["exception_rows"] == n_invalid == 10 + 4 * 2
    assert exp["input_rows"] == n_rows
    assert exp["input_bytes"] == n_bytes


@pytest.mark.parametrize(
    "n, k, pct", [(11, 1, 100 / 11), (19, 9, 900 / 19), (42, 32, 3200 / 42), (110, 100, 100 * 100 / 110)]
)
def test_tail_rank_small_counts(n, k, pct):
    assert stats.tail_rank(n) == (k, pytest.approx(pct))


def test_tail_needs_ten_beyond():
    with pytest.raises(ValueError):
        stats.tail_rank(10)
    values = [float(v) for v in range(42, 0, -1)]  # 42 .. 1, unsorted
    value, pct = stats.tail(values)
    assert 32.0 < value < 33.0  # ten samples (33..42) lie beyond it
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(76.19, abs=0.01)


def test_hd_quantile():
    # symmetric samples: the median estimate is their centre
    assert stats.hd_quantile([5.0, 1.0, 2.0, 4.0, 3.0], 0.5) == pytest.approx(3.0)
    assert stats.hd_quantile([float(v) for v in range(1, 23)], 0.5) == pytest.approx(11.5)
    # every sample has weight: moving one sample moves the estimate a
    # little, where the sample median would stay or jump
    base = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    moved = stats.hd_quantile(base[:-1] + [9.0], 0.5)
    assert stats.hd_quantile(base, 0.5) < moved < 4.0
    assert stats.hd_quantile([7.0], 0.5) == 7.0
    with pytest.raises(ValueError):
        stats.hd_quantile(base, 0.05)


def test_stored_bytes_counts_sidecars_and_history(tmp_path):
    def put(rel: str, n: int) -> None:
        p = tmp_path / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(b"x" * n)

    put("in/batch_000.csv", 1000)
    put("silver/year=2026/month=8/part-0.parquet", 300)
    put("silver/_marker.json", 20)
    put("silver__commit_v000000", 7)
    put("silver__commit_v000001", 7)
    put("silver__history/v000000/part-0.parquet", 50)
    put("silver__history/.hidden", 3)
    put("exception/year=2026/month=8/part-0.parquet", 40)
    assert stats.stored_bytes(str(tmp_path), str(tmp_path / "in")) == 300 + 20 + 7 + 7 + 50 + 3 + 40
    assert stats.tree_bytes(str(tmp_path / "missing")) == 0


def test_written_bytes_sees_new_and_rewritten_files(tmp_path):
    (tmp_path / "a").write_bytes(b"1234")
    (tmp_path / "b").write_bytes(b"12")
    before = stats.file_sizes(str(tmp_path))
    (tmp_path / "b").write_bytes(b"123456")
    (tmp_path / "c").write_bytes(b"123")
    assert stats.written_bytes(before, stats.file_sizes(str(tmp_path))) == 6 + 3


def test_tracer_self_time_and_same_name_nesting():
    clock = iter(range(100))
    tracer = Tracer("r")
    import spans

    real = spans.time.perf_counter
    spans.time.perf_counter = lambda: float(next(clock))
    try:
        inner = tracer.wrap("operators.x", lambda: None)
        outer = tracer.wrap("operators.x", lambda: inner())  # same layer: one span
        root = tracer.begin("plans.construct")  # t=0
        outer()  # t=1..2
        tracer.wrap("catalog.load_table", lambda: None)()  # t=3..4
        tracer.end(root)  # t=5
    finally:
        spans.time.perf_counter = real
    assert tracer.count("operators.x") == 1
    assert tracer.total("plans.construct") == 5.0
    assert tracer.self_time("plans.construct") == 5.0 - 1.0 - 1.0
    assert all(s.run_id == "r" for s in tracer.spans)


def test_instrument_swaps_and_restores_every_reference():
    from aws_callcenter_delta_lakehouse_spark import catalog
    from aws_callcenter_delta_lakehouse_spark.plans import tpch
    from aws_callcenter_delta_lakehouse_spark.sources import managed_table

    original = catalog.load_table
    swapped = instrument(Tracer("r"))
    try:
        assert catalog.load_table is not original
        assert tpch.load_table is catalog.load_table  # imported name swapped too
        assert managed_table.merge_upsert.__wrapped_original__ is not None
    finally:
        restore(swapped)
    assert catalog.load_table is original and tpch.load_table is original


def test_benchmark_json_matches_the_code():
    import run
    from workloads import PER_LAYER, WORKLOADS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER


def test_registry_mix_queries_have_oracles_and_tables():
    from aws_callcenter_delta_lakehouse_spark.catalog import TPCH_TABLES
    from aws_callcenter_delta_lakehouse_spark.plans.all import REGISTRY
    from workloads import RegistryMix

    for name in RegistryMix.QUERIES:
        assert REGISTRY[name].oracle, name
    for table in TPCH_TABLES:
        assert os.path.isfile(os.path.join(RegistryMix.SF_DIR, f"{table}.parquet")), table
