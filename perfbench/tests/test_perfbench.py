"""Tests of the benchmark itself: generators, metric names, span
arithmetic, and a tiny run of every workload.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, run, trace  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _digest(path: str) -> str:
    """sha256 over a file, or over every file under a directory."""
    h = hashlib.sha256()
    if os.path.isfile(path):
        with open(path, "rb") as f:
            h.update(f.read())
    for dirpath, _, names in sorted(os.walk(path)):
        for n in sorted(names):
            with open(os.path.join(dirpath, n), "rb") as f:
                h.update(n.encode() + f.read())
    return h.hexdigest()


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- generators -------------------------------------------------------------------


def test_taxi_csv_is_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in ("a.csv", "b.csv", "c.csv"))
    gen.taxi_csv(a, 7, 2000)
    gen.taxi_csv(b, 7, 2000)
    gen.taxi_csv(c, 8, 2000)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_taxi_csv_plants_known_failures_per_predicate(tmp_path):
    import pandas as pd

    path = str(tmp_path / "t.csv")
    plan = gen.taxi_csv(path, 3, 5000)
    df = pd.read_csv(path)
    pu = pd.to_datetime(df.tpep_pickup_datetime)
    do = pd.to_datetime(df.tpep_dropoff_datetime)
    dur = (do - pu).dt.total_seconds() / 60.0
    fails = {
        "fare_positive": ~(df.fare_amount > 0),
        "distance_positive": ~(df.trip_distance > 0),
        "passengers_positive": ~(df.passenger_count > 0),
        "total_positive": ~(df.total_amount > 0),
        "pickup_before_dropoff": ~(pu < do),
        "duration_range": ~((dur > 0) & (dur < 180)),
    }
    assert {k: int(v.sum()) for k, v in fails.items()} == plan.fails_per_predicate()
    any_fail = fails["fare_positive"]
    for v in fails.values():
        any_fail = any_fail | v
    assert int(any_fail.sum()) == plan.n_rejected > 0


def test_star_tables_are_deterministic_per_seed(tmp_path):
    from lab3_lakehouse_spark.catalog import TABLES

    a, b, c = (str(tmp_path / n) for n in ("a", "b", "c"))
    rows = gen.star_tables(a, 5, 0.001)
    gen.star_tables(b, 5, 0.001)
    gen.star_tables(c, 6, 0.001)
    assert set(rows) == set(TABLES)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_query_sequences_are_deterministic_and_cover_the_mix():
    names = [f"q{i}" for i in range(15)]
    a = gen.query_sequences(1, 4, names, 45)
    assert a == gen.query_sequences(1, 4, names, 45)
    assert a != gen.query_sequences(2, 4, names, 45)
    assert all(sorted(seq[:15]) == sorted(names) for seq in a)


def _corpus(seed: int):
    g = gen.CorpusGen(seed)
    boot = g.bootstrap(100)
    batches = [g.batch(i, 50) for i in range(2)]
    return g, boot, batches


def test_corpus_is_deterministic_per_seed():
    _, boot_a, batches_a = _corpus(11)
    _, boot_b, batches_b = _corpus(11)
    _, boot_c, _ = _corpus(12)
    for x, y in [(boot_a, boot_b)] + [(p.frame, q.frame) for p, q in zip(batches_a, batches_b)]:
        assert list(x.text) == list(y.text)
        assert list(x.doc_id) == list(y.doc_id)
        assert all((u == v).all() for u, v in zip(x.embedding, y.embedding))
    assert list(boot_a.text) != list(boot_c.text)


def test_corpus_plants_exact_and_near_duplicates_above_threshold():
    g, boot, batches = _corpus(4)
    texts = dict(zip(boot.doc_id, boot.text))
    for b in batches:
        by_id = dict(zip(b.frame.doc_id, b.frame.text))
        known = set(texts.values())
        assert b.exact_dup_ids and b.near_dup_ids
        assert all(by_id[i] in known for i in b.exact_dup_ids)
        assert all(by_id[i] not in known for i in b.near_dup_ids)
        assert min(b.near_jaccard) >= gen.NEAR_DUP_MIN_JACCARD > 0.8
        for i in b.near_dup_ids:  # a near dup is close to exactly one known doc
            best = max(gen.shingle_jaccard(by_id[i], t) for t in known)
            assert best >= gen.NEAR_DUP_MIN_JACCARD
        for i in b.unique_ids:
            assert max(gen.shingle_jaccard(by_id[i], t) for t in known) < 0.5
            texts[i] = by_id[i]


# -- metric names -----------------------------------------------------------------


def test_metric_names_match_benchmark_json():
    bench = _benchmark()
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layer = {m["name"]: m for m in bench["per_layer"]}
    assert set(e2e) == set(run.END_TO_END)
    assert set(layer) == set(run._per_layer())
    for name, (unit, better) in run.END_TO_END.items():
        assert (e2e[name]["unit"], e2e[name]["better"]) == (unit, better)
    for name, unit in run._per_layer().items():
        assert layer[name]["unit"] == unit
    for name in list(e2e) + list(layer) + [w["name"] for w in bench["workloads"]]:
        assert NAME.match(name), name
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


def test_spec_records_every_workload_and_metric():
    with open(os.path.join(ROOT, "perfbench", "spec.json")) as f:
        spec = json.load(f)
    bench = _benchmark()
    assert set(spec["workloads"]) == {w["name"] for w in bench["workloads"]}
    assert set(spec["per_layer"]) == {m["name"] for m in bench["per_layer"]}
    e2e = {m["name"] for m in bench["end_to_end"]}
    for name, entry in spec["per_layer"].items():
        assert entry["moves"] in e2e, name
        assert set(entry["workloads"]) <= set(spec["workloads"]), name


# -- span arithmetic ----------------------------------------------------------------


def _span(i, parent, start, end, op=1, name="x.y"):
    return trace.Span(id=i, name=name, parent=parent, op=op, thread="t", start=start, end=end)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0, name="op.w"),
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 2.0, 5.0),  # overlaps its sibling (another thread)
        _span(4, 1, 8.0, 9.0),
        _span(5, 4, 8.2, 8.7),  # grandchild: billed to span 4 only
    ]
    st = trace.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[4] == pytest.approx(1.0 - 0.5)
    assert (st[2], st[3], st[5]) == pytest.approx((2.0, 3.0, 0.5))


def test_layer_totals_and_driver_self_time():
    spans = [
        _span(1, None, 0.0, 10.0, name="op.w"),
        _span(2, 1, 0.0, 4.0, name="dedup.probe"),
        _span(3, 1, 4.0, 10.0, name="similarity.probe"),
        _span(4, None, 10.0, 11.0, op=None, name="trace.count"),
    ]
    spans[1].spark = {"tasks": 3, "executor_cpu_s": 1.5}
    spans[1].busy = [(1.0, 3.0)]
    spans[2].busy = [(5.0, 6.0), (5.5, 7.0)]
    layers = trace.layer_totals(spans)
    assert "trace" not in layers
    assert layers["dedup"]["tasks"] == 3
    assert layers["similarity"]["self_s"] == pytest.approx(6.0)
    assert trace.driver_self_s(spans) == pytest.approx(10.0 - 2.0 - 2.0)


def test_covered_clips_to_the_window():
    assert trace.covered([(-1.0, 1.0), (0.5, 2.0), (3.0, 9.0)], 0.0, 4.0) == pytest.approx(3.0)
    assert trace.covered([], 0.0, 4.0) == 0.0


# -- tiny end-to-end runs -----------------------------------------------------------


@pytest.mark.parametrize("traced", [0, 1])
def test_tiny_run_of_every_workload(traced):
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "perfbench", "run.py"),
            "--workload", "all",
            "--seed", "3",
            "--seconds", "1",
            "--trace", str(traced),
            "--size", "tiny",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    results = json.loads(proc.stdout.strip().splitlines()[-1])
    bench = _benchmark()
    assert set(results) == {w["name"] for w in bench["workloads"]}
    want = {m["name"] for m in bench["per_layer" if traced else "end_to_end"]}
    for name, res in results.items():
        assert res["correct"] is True, name
        assert res["attempted"] >= 1 and res["failed"] == 0, name
        assert set(res["metrics"]) == want, name
        for m in res["metrics"].values():
            assert isinstance(m["value"], (int, float))
