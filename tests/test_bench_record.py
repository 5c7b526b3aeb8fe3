"""bench.py's record file and driver contract. BENCH_LOCAL.json keeps
per-query minima per host, keyed by a fingerprint of the machine and the
run, and a run rewrites only its own host's entry. main() prints the full
result line, the bounded chunk lines and the digest, in that order."""

from __future__ import annotations

import importlib.util
import json
import os

_spec = importlib.util.spec_from_file_location(
    "bench",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py"),
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def test_faster_run_lowers_record_and_resets_age():
    rec = bench.merge_records({"q1": 3.0}, {"q1": 2.5})
    assert rec == {"q1": 2.5}


def test_noisy_run_cannot_overwrite_record():
    # a uniformly inflated window must not become the baseline
    prev = {"q1": 1.0, "q2": 4.1}
    rec = bench.merge_records(prev, {"q1": 1.3, "q2": 11.8})
    assert rec == prev


def test_failure_carries_record_and_unknown_queries_drop():
    rec = bench.merge_records(
        {"q1": 1.0, "q_gone": 9.9}, {"q1": None, "q_new": 0.5}
    )
    # failed run: the record survives untouched
    assert rec["q1"] == 1.0
    # renamed/removed queries leave the file; new ones enter
    assert "q_gone" not in rec
    assert rec["q_new"] == 0.5


_FOREIGN_KEY = "nproc=? mem_total_kb=? kernel=? pyspark=? cpus=32 sf=0.1"
_FOREIGN = {
    "fingerprint": {
        "nproc": None,
        "mem_total_kb": None,
        "kernel": None,
        "pyspark": None,
        "cpus": 32,
        "sf": 0.1,
    },
    "value": 1.5,
    "queries": {"q1": 0.5, "q2": 1.0},
}


def test_record_is_keyed_by_host(tmp_path):
    path = str(tmp_path / "BENCH_LOCAL.json")
    with open(path, "w") as fh:
        json.dump({_FOREIGN_KEY: _FOREIGN}, fh, indent=1)
    before = json.dumps(_FOREIGN, indent=1)
    fp = bench.fingerprint("/data/sf0.1", "4")
    key = bench.host_key(fp)
    assert key != _FOREIGN_KEY and fp["cpus"] == 4 and fp["sf"] == 0.1

    bench.update_record(path, fp, {"q1": 2.0, "q2": None, "q3": 0.7})
    bench.update_record(path, fp, {"q1": 2.5, "q2": 0.9, "q3": 0.6})
    with open(path) as fh:
        doc = json.load(fh)
    assert list(doc) == [_FOREIGN_KEY, key]
    # another host's slower records are neither read nor rewritten
    assert json.dumps(doc[_FOREIGN_KEY], indent=1) == before
    assert doc[key] == {
        "fingerprint": fp,
        "value": 3.5,
        "queries": {"q1": 2.0, "q2": 0.9, "q3": 0.6},
    }


def test_main_contract(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """main() end to end on three tiny queries, one of which raises: the
    three stdout line kinds in order, and the record gains this host's
    entry beside an untouched foreign one."""
    from fireworks_spark import registry
    from fireworks_spark.tables import table

    def _boom(spark, sf_dir):
        raise RuntimeError("boom")

    queries = {
        "t_range": lambda spark, sf_dir: spark.range(10),
        "t_nation": lambda spark, sf_dir: table(spark, sf_dir, "nation"),
        "t_boom": _boom,
    }
    monkeypatch.setattr(registry, "QUERIES", queries)
    path = str(tmp_path / "BENCH_LOCAL.json")
    with open(path, "w") as fh:
        json.dump({_FOREIGN_KEY: _FOREIGN}, fh)
    monkeypatch.setattr(bench, "RECORD_PATH", path)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)

    # main()'s builder confs apply to the shared session: restore them
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        bench.main()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)

    lines = capsys.readouterr().out.strip().splitlines()
    full = json.loads(lines[0])
    assert full["metric"] == "total_query_time"
    assert set(full["queries"]) == set(queries)
    assert full["queries"]["t_boom"] is None
    merged: dict = {}
    for line in lines[1:-1]:
        doc = json.loads(line)
        assert doc["metric"] == "total_query_time_part"
        merged.update(doc["queries"])
    assert merged == full["queries"]
    digest = json.loads(lines[-1])
    assert digest["n_failed"] == 1 and digest["failed"] == ["t_boom"]

    with open(path) as fh:
        rec = json.load(fh)
    key = bench.host_key(bench.fingerprint(*bench.bench_params()))
    assert rec[_FOREIGN_KEY] == _FOREIGN
    assert set(rec[key]["queries"]) == {"t_range", "t_nation"}


def test_chunk_queries_bounded_and_complete():
    """VERDICT r15 #2: the driver archives only a 2000-char stdout tail,
    so the per-query map is re-emitted as bounded chunk lines. Every
    line parses standalone, stays under the bound, the union of chunks
    is the full map, and the most expensive queries sit in the LAST
    chunk (the bytes most likely to survive the tail window)."""
    import json as _json

    timings = {f"q{i:03d}_name_of_typical_len": i / 10.0 for i in range(194)}
    timings["q_failed_one"] = None
    lines = bench.chunk_queries(timings, max_chars=700)
    merged: dict = {}
    for line in lines:
        assert len(line) <= 700 + 100  # entry estimate slack only
        doc = _json.loads(line)
        assert doc["metric"] == "total_query_time_part"
        assert doc["of"] == len(lines)
        merged.update(doc["queries"])
    assert merged == timings
    last = _json.loads(lines[-1])["queries"]
    assert "q193_name_of_typical_len" in last  # most expensive lands last
