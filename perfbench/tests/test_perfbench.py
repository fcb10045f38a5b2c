"""Self-tests of the benchmark: generator, percentile helper, oracles
and metric lines. None of them starts Spark.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
Scratch files go to ``.bench_tmp/`` like a benchmark run's.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import pathlib
import shutil
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import trace as tr  # noqa: E402


@pytest.fixture
def bench():
    """A Bench whose CLI is a stub printing a canned answer."""
    b = run.Bench(argparse.Namespace(workload="ingest", seed=1, seconds=1.0, trace=0))
    b.cli = types.SimpleNamespace(answer="", rc=0)

    def main(argv):
        print(b.cli.answer, end="")
        return b.cli.rc

    b.cli.main = main
    yield b
    shutil.rmtree(b.tmp, ignore_errors=True)
    with contextlib.suppress(OSError):
        os.rmdir(os.path.dirname(b.tmp))


# -- generator -----------------------------------------------------------

def test_generator_is_deterministic_per_seed():
    assert gen.records(7, 50) == gen.records(7, 50)
    assert gen.records(7, 50) != gen.records(8, 50)
    store = gen.records(7, 50)
    assert gen.save_cycles(7, store, 3) == gen.save_cycles(7, store, 3)
    assert gen.ingest_reads(7, 3, 50) == gen.ingest_reads(7, 3, 50)
    assert gen.documents(7, 100) == gen.documents(7, 100)
    assert gen.embeddings(7, 20) == gen.embeddings(7, 20)
    assert gen.save_yaml(store) == gen.save_yaml(gen.records(7, 50))


def test_generator_varies_shape_with_seed():
    shapes = {tuple(sorted(vars(gen.Shape(s)).items())) for s in range(10)}
    assert len(shapes) == 10
    md = gen.records(3, 1)[0]["metadata"]
    assert {type(md[k]) for k in md} >= {int, float, bool, str, list, dict}


def test_save_cycles_overwrite_live_ids_and_tombstone_some():
    store = gen.records(2, 200)
    batches = gen.save_cycles(2, store, 20)
    ids = [e["id"] for b in batches for e in b if e.get("id") is not None]
    assert len(ids) == len(set(ids)) == 100
    assert all(0 <= i < 200 for i in ids)
    assert any(e["metadata"].get("deleted") for b in batches for e in b)


# -- percentile helper ----------------------------------------------------

@pytest.mark.parametrize("n, want", [(10, None), (11, None), (20, 50), (100, 90),
                                     (300, 95), (1000, 99), (20000, 99.9)])
def test_percentile_tail_keeps_ten_samples_beyond(n, want):
    xs = list(range(n))
    got = tr.percentile_tail(xs)
    if want is None:
        assert got is None
        return
    p, value = got
    assert p == want
    assert sum(x > value for x in xs) >= 10


# -- oracles catch wrong answers ----------------------------------------------

def _store():
    return gen.records(5, 120)


def test_recall_oracle_matches_the_hashing_spec():
    hashing = pytest.importorskip("c99_vectordb_spark.hashing")
    for r in _store()[:20]:
        dense = hashing.embed_text_int(r["body"])
        assert {i: v for i, v in enumerate(dense) if v} == {
            b: v for b, v in oracle.embed(r["body"]).items() if v}


def _perturb_score(text: str) -> str:
    lines = text.splitlines(keepends=True)
    i = next(i for i, ln in enumerate(lines) if "Score:" in ln)
    head, score = lines[i].split("Score: ")
    digits = score[:6]
    bumped = f"{float(digits) + 0.0001:.4f}"
    lines[i] = f"{head}Score: {bumped}{score[6:]}"
    return "".join(lines)


def test_recall_oracle_catches_a_perturbed_answer(bench):
    idx = oracle.RecallIndex(_store())
    want = idx.expected("lo ka mi", 10, "n: {$gte: 100}")
    bench.cli.answer = want
    bench.cli_op("recall", [], want)
    assert bench.failures == []
    bench.cli.answer = _perturb_score(want)
    bench.cli_op("recall", [], want)
    assert bench.result()["failed"] == 1


def test_recall_oracle_orders_ties_by_id():
    store = [{"metadata": {"k": 1}, "body": "same words"} for _ in range(3)]
    text = oracle.RecallIndex(store).expected("same", 3, None)
    assert [ln.split("]")[0].strip() for ln in text.splitlines()[1::2]] == ["[0", "[1", "[2"]


def test_stats_oracle_catches_a_perturbed_answer(bench):
    store = _store()
    for key in gen.STATS_KEYS:
        want = oracle.expected_stats(store, "kind: {$ne: zzz}", key)
        assert want.startswith(f"Matched: {len(store)}\n")
        lines = want.splitlines(keepends=True)
        i = next(i for i, ln in enumerate(lines) if ln.startswith("  ") and ": " in ln)
        name, count = lines[i].rsplit(": ", 1)
        lines[i] = f"{name}: {int(count) + 1}\n"
        bench.cli.answer = "".join(lines)
        bench.cli_op("analyze", [], want)
    assert len(bench.failures) == len(gen.STATS_KEYS)


def test_stats_oracle_ranges():
    store = [{"metadata": {"n": n, "day": f"2024-01-0{n}"}, "body": "x"} for n in (1, 2, 4)]
    num = oracle.expected_stats(store, "n: {$gte: 0}", "n")
    assert "  min: 1\n  max: 4\n  avg: 2.33\n" in num
    dates = oracle.expected_stats(store, "n: {$gte: 2}", "day")
    assert "Matched: 2\n" in dates and "  start: 2024-01-02\n  end:   2024-01-04\n" in dates


def test_page_oracle_catches_a_perturbed_answer(bench):
    store = _store()
    want = oracle.expected_page(store, "tags: {$contains: red}", ["id", "kind", "n"], 3, 5)
    assert len(want.splitlines()) == 1 + 1 + 5
    bench.cli.answer = want.replace("\n", "\n ", 1)
    bench.cli_op("analyze", [], want)
    bench.cli.answer, bench.cli.rc = want, 1
    bench.cli_op("analyze", [], want)
    assert len(bench.failures) == 2


def test_store_check_catches_a_wrong_record(bench):
    tmp_path = pathlib.Path(bench.tmp)
    store = gen.records(4, 5)
    text = "".join(
        "---\n" + json.dumps({"id": i, "metadata": r["metadata"], "body": r["body"]}) + "\n"
        for i, r in enumerate(store))
    (tmp_path / "db.yaml").write_text(text)
    os.makedirs(tmp_path / "db.emb")
    import hashlib

    (tmp_path / "db.emb" / "_SOURCE_SHA256").write_text(hashlib.sha256(text.encode()).hexdigest())
    assert oracle.check_store(str(tmp_path / "db.yaml"), str(tmp_path / "db.emb"), store) == []
    wrong = [dict(r) for r in store]
    wrong[2] = {**wrong[2], "body": wrong[2]["body"] + " extra"}
    assert len(oracle.check_store(str(tmp_path / "db.yaml"), str(tmp_path / "db.emb"), wrong)) == 1
    (tmp_path / "db.emb" / "_SOURCE_SHA256").write_text("0" * 64)
    assert len(oracle.check_store(str(tmp_path / "db.yaml"), str(tmp_path / "db.emb"), store)) == 1


def test_registry_oracle_catches_a_perturbed_answer(bench):
    tmp_path = pathlib.Path(bench.tmp)
    duckdb = pytest.importorskip("duckdb")
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")
    qr = pytest.importorskip("c99_vectordb_spark.queries_registry")
    docs = gen.documents(3, 200)
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in docs], pa.int64()), "text": [r[1] for r in docs],
        "lang": [r[2] for r in docs], "source": [r[3] for r in docs],
        "n_chars": pa.array([r[4] for r in docs], pa.int64()),
    }), str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')")
    want = con.execute(qr.oracle_sql()["recall_topk_int"]).df()
    assert len(want) > 1
    got = want.sample(frac=1.0, random_state=0)[list(reversed(want.columns))]
    assert oracle.compare_frames(got, want) is None
    bad = want.copy()
    col = next(c for c in bad.columns if bad[c].dtype.kind in "if")
    bad.loc[bad.index[0], col] = bad[col].iloc[0] + 1
    assert oracle.compare_frames(bad, want) is not None
    assert oracle.compare_frames(want.iloc[1:], want) is not None
    bench.op("recall_topk_int", lambda: bad,
             lambda frame, _out, _err: oracle.compare_frames(frame, want))
    assert bench.result()["failed"] == 1


# -- metric lines ---------------------------------------------------------

def test_metric_lines_parse_with_name_and_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    for units in (run.END_TO_END, run.PER_LAYER):
        metrics = {k: {"value": 1.25, "unit": u} for k, u in units.items()}
        lines = run.metric_lines(metrics)
        assert len(lines) == len(units)
        for line in lines:
            tag, name, value, unit = line.split(" ")
            assert tag == "metric" and units[name] == unit and float(value) == 1.25
