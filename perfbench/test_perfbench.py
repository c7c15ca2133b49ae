"""Tests of the benchmark itself, on a tiny corpus (sf0.001) and short runs.

    python -m pytest perfbench/test_perfbench.py -q

The Spark tests share one JVM; each run sets its workload up once.
"""

from __future__ import annotations

import dataclasses
import hashlib
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import datagen, run, statements  # noqa: E402
from perfbench.workloads import Headline  # noqa: E402

TINY = 0.001


def _digest(path: Path) -> str:
    return hashlib.sha256(b"".join(
        (path / f"{t}.parquet").read_bytes() for t in datagen.TABLES
    )).hexdigest()


def test_same_seed_same_corpus(tmp_path):
    a = _digest(Path(datagen.generate(str(tmp_path / "a"), TINY, 5)))
    b = _digest(Path(datagen.generate(str(tmp_path / "b"), TINY, 5)))
    c = _digest(Path(datagen.generate(str(tmp_path / "c"), TINY, 6)))
    assert a == b != c


def _blocks(seed: int, n: int = 6) -> list:
    gen = statements.StreamGen(seed, 1500, 150)
    return [gen.next_block() for _ in range(n)]


def test_same_seed_same_statement_stream():
    assert _blocks(11) == _blocks(11)
    assert _blocks(11) != _blocks(12)


def test_stream_mix_and_balance():
    inserts = deletes = 0
    for block in _blocks(3, 8):
        kinds = [s.kind for s in block]
        assert kinds.count("read") == statements.READS_PER_BLOCK
        assert kinds.count("write") == statements.WRITES_PER_BLOCK
        inserts += sum(s.shape in ("insert", "txn") for s in block)
        deletes += 2 * sum(s.shape == "delete" for s in block)
    assert inserts == deletes


def test_same_seed_same_headline_order(tmp_path):
    def rounds(seed):
        wl = Headline(seed, str(tmp_path), 1, str(tmp_path))
        return [wl.next_round() for _ in range(3)]

    assert rounds(4) == rounds(4)
    assert rounds(4) != rounds(5)


def test_wrong_count_is_a_mismatch():
    stmt = _blocks(1, 1)[0][0]
    count = dataclasses.replace(stmt, expect="count")
    assert statements.matches(count, [(3,)], [(3,)])
    assert not statements.matches(count, [(2,)], [(3,)])
    rows = dataclasses.replace(stmt, expect="rows")
    assert statements.matches(rows, [(1, "a"), (2, "b")], [(2, "b"), (1.0, "a")])
    assert not statements.matches(rows, [(1, "a")], [(1, "b")])


def test_trace_overhead_pairs_adjacent_rounds():
    recs = [{"round": k, "latency": x} for k, xs in enumerate(
        [[1.0, 3.0], [1.5, 3.5], [2.0, 2.0], [2.1, 2.3]]) for x in xs]
    assert run._trace_overhead(recs) == pytest.approx(0.35)


@pytest.fixture(scope="module")
def jvm():
    yield
    run.shutdown_jvm()


@pytest.mark.parametrize("workload", ["headline", "statements"])
@pytest.mark.parametrize("trace", [False, True])
def test_every_metric_printed(jvm, workload, trace):
    result = run.run(workload, seed=1, seconds=0.5, trace=trace, sf=TINY)
    names = run.PER_LAYER if trace else run.END_TO_END
    assert set(result["metrics"]) == set(names)
    for name, unit in names.items():
        assert result["metrics"][name]["unit"] == unit
        assert isinstance(result["metrics"][name]["value"], float)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert result["report"]["error_rate"] == 0.0
    if not trace:
        assert all(result["metrics"][n]["value"] > 0 for n in names)


def test_wrong_result_counts_in_error_rate(jvm, monkeypatch):
    from otterbrix_spark.workload import REGISTRY

    name = "q01_pricing_summary"
    spec = REGISTRY[name]
    wrong = dataclasses.replace(
        spec, spark_fn=lambda spark, sf_dir: spec.spark_fn(spark, sf_dir).limit(1)
    )
    monkeypatch.setitem(REGISTRY, name, wrong)
    result = run.run("headline", seed=1, seconds=0.5, trace=False, sf=TINY)
    assert not result["correct"]
    assert result["failed"] >= 2  # the warm-up round and every timed q01
    assert result["report"]["error_rate"] == result["failed"] / result["attempted"]
