"""The benchmark's own checks: metric names agree with BENCHMARK.json, inputs
are a function of the seed alone, and every correctness gate catches a
planted wrong row. None of these start Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

import duckdb
import numpy as np
import pytest

CHECKOUT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, CHECKOUT)

from perfbench import gen, oracle, run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- metric names ------------------------------------------------------------

def test_printed_metric_names_and_units_match_benchmark_json():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER


def test_workload_names_match_benchmark_json():
    names = [w["name"] for w in _bench()["workloads"]]
    assert sorted(names) == sorted(WORKLOADS)
    with pytest.raises(SystemExit):  # the CLI refuses anything else
        run.main(["--workload", "nope", "--seed", "1", "--seconds", "1"])


def test_result_line_carries_every_metric_of_its_mode(monkeypatch, capsys):
    def fake_run(workload, seed, seconds, trace, run_root):
        units = run.PER_LAYER if trace else run.END_TO_END
        return {"correct": True, "attempted": 1, "failed": 0,
                "metrics": {k: {"value": 1.0, "unit": u} for k, u in units.items()}}

    monkeypatch.setattr(run, "run", fake_run)
    # main() points the process's temporary directory into its run root
    monkeypatch.setattr(tempfile, "tempdir", tempfile.gettempdir())
    monkeypatch.setenv("TMPDIR", tempfile.gettempdir())
    for trace, units in ((0, run.END_TO_END), (1, run.PER_LAYER)):
        assert run.main(["--workload", "scd_incremental", "--seed", "3",
                         "--seconds", "1", "--trace", str(trace)]) == 0
        last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert set(last) == {"correct", "attempted", "failed", "metrics"}
        assert {k: v["unit"] for k, v in last["metrics"].items()} == units


# -- seeded inputs -----------------------------------------------------------

def _inputs(seed: int, d: str) -> list[str]:
    paths = []

    def put(table, name):
        paths.append(os.path.join(d, name))
        gen.write(table, paths[-1])

    src = gen.LineitemSource(gen.rng_for(seed, 1), 300)
    put(src.snapshot(), "snapshot.parquet")
    rng = gen.rng_for(seed, 2)
    for i in (1, 2):
        put(src.increment(rng, i, 0.02, 0.005)[0], f"inc{i}.parquet")
    rng = gen.rng_for(seed, 5)
    ids, _ = gen.event_users(rng.permutation(500) + 1, 1, 50, 0.1, 501)
    put(gen.events(rng, ids, 1), "events.parquet")
    put(gen.corpus(gen.rng_for(seed, 6), 40, 0.15, 0.15), "docs.parquet")
    return paths


def _read_all(paths: list[str]) -> list[bytes]:
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(f.read())
    return out


def test_same_seed_gives_identical_inputs(tmp_path):
    for sub in ("a", "b", "c"):
        (tmp_path / sub).mkdir()
    a = _read_all(_inputs(7, str(tmp_path / "a")))
    b = _read_all(_inputs(7, str(tmp_path / "b")))
    c = _read_all(_inputs(8, str(tmp_path / "c")))
    assert a == b
    assert all(x != y for x, y in zip(a, c))


def test_neighbouring_event_files_share_no_key():
    order = gen.rng_for(1, 5).permutation(1000) + 1
    files = [gen.event_users(order, j, 200, 0.1, 1001 + 20 * j)[0] for j in range(5)]
    ids = np.concatenate(files)
    assert len(set(ids.tolist())) == 1000


# -- correctness gates -------------------------------------------------------

def _copy_with(con, sql: str, path: str, plant: str | None) -> None:
    con.execute(f"CREATE OR REPLACE TABLE t AS {sql}")
    if plant is not None:
        con.execute(plant)
    con.execute(f"COPY t TO '{path}' (FORMAT PARQUET)")


def _scd2_output(source_files: list[str], path: str, plant: str | None = None) -> None:
    """Write what a correct SCD2 writer would commit (optionally corrupted)."""
    con = duckdb.connect()
    files = "[" + ", ".join(f"'{p}'" for p in source_files) + "]"
    _copy_with(con, f"""
        SELECT *, ingest_ts AS {oracle.VALID_FROM},
               coalesce(lead(ingest_ts) OVER w,
                        TIMESTAMP '{oracle.SCD2_SENTINEL}') AS {oracle.VALID_TO},
               CASE WHEN lead(ingest_ts) OVER w IS NULL THEN 'Y' ELSE 'N' END
                 AS {oracle.ACTIVE}
        FROM read_parquet({files})
        WINDOW w AS (PARTITION BY l_orderkey, l_linenumber ORDER BY ingest_ts)""",
               path, plant)


def test_scd2_gate_passes_a_correct_history_and_catches_a_planted_row(tmp_path):
    src = gen.LineitemSource(gen.rng_for(3, 1), 200)
    rng = gen.rng_for(3, 2)
    files = [str(tmp_path / "s0.parquet")]
    gen.write(src.snapshot(), files[0])
    updated = 0
    for i in (1, 2, 3):
        rows, n_upd = src.increment(rng, i, 0.05, 0.01)
        updated += n_upd
        files.append(str(tmp_path / f"s{i}.parquet"))
        gen.write(rows, files[-1])
    good = str(tmp_path / "good.parquet")
    _scd2_output(files, good)
    assert oracle.scd2_mismatches([good], files, updated) == 0
    for plant in (
            "UPDATE t SET l_quantity = l_quantity + 1 WHERE rowid = 7",
            f"UPDATE t SET {oracle.ACTIVE} = 'Y' WHERE {oracle.ACTIVE} = 'N' AND rowid = "
            f"(SELECT min(rowid) FROM t WHERE {oracle.ACTIVE} = 'N')",
            "DELETE FROM t WHERE rowid = 3"):
        bad = str(tmp_path / "bad.parquet")
        _scd2_output(files, bad, plant)
        assert oracle.scd2_mismatches([bad], files, updated) > 0, plant


def test_upsert_gate_catches_a_planted_row(tmp_path):
    rng = gen.rng_for(5, 5)
    order, next_new = rng.permutation(300) + 1, 301
    files = [str(tmp_path / "e0.parquet")]
    gen.write(gen.events(rng, np.arange(1, 301), 0), files[0])
    for seq in (1, 2, 3):
        ids, next_new = gen.event_users(order, seq, 40, 0.1, next_new)
        files.append(str(tmp_path / f"e{seq}.parquet"))
        gen.write(gen.events(rng, ids, seq), files[-1])
    con = duckdb.connect()
    latest = f"""SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        ORDER BY file_seq DESC) AS rn FROM read_parquet({files})) WHERE rn = 1"""
    good = str(tmp_path / "good.parquet")
    _copy_with(con, latest, good, None)
    assert oracle.upsert_mismatches([good], files) == 0
    bad = str(tmp_path / "bad.parquet")
    _copy_with(con, latest, bad, "UPDATE t SET score = score + 1 WHERE user_id = 5")
    assert oracle.upsert_mismatches([bad], files) == 2  # one row wrong, one missing


def test_corpus_gates_catch_a_planted_row(tmp_path):
    docs = str(tmp_path / "docs.parquet")
    gen.write(gen.corpus(gen.rng_for(6, 6), 120, 0.2, 0.2), docs)
    con = duckdb.connect()
    rows = con.execute(f"""SELECT md5({oracle._NORM}), min(doc_id), count(*)
        FROM read_parquet('{docs}') GROUP BY 1""").fetchall()
    assert any(r[2] > 1 for r in rows)  # the corpus holds exact copies
    assert oracle.exact_dedup_mismatches(docs, rows) == 0
    planted = [(rows[0][0], rows[0][1], rows[0][2] + 1), *rows[1:]]
    assert oracle.exact_dedup_mismatches(docs, planted) == 2
    keep_all = oracle.gopher_keep_count(docs)
    assert keep_all == _gopher_keep_reference(docs)
    keep_first = oracle.gopher_keep_count(docs, [r[1] for r in rows])
    assert 0 < keep_first <= keep_all


def _gopher_keep_reference(docs: str) -> int:
    """Plain-Python Gopher battery, to check the DuckDB oracle itself."""
    import re

    import pyarrow.parquet as pq

    kept = 0
    for text in pq.read_table(docs).column("text").to_pylist():
        norm = re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", text.lower())).strip()
        toks = norm.split(" ") if norm else []
        n = len(toks)
        if not n:
            continue
        mean_len = (len(norm) - (n - 1)) / n
        stops = len(set(toks) & set(oracle.STOPWORDS))
        top = max(toks.count(w) for w in set(toks)) / n
        kept += (40 <= n <= 100_000 and 3.0 <= mean_len <= 10.0 and stops >= 2
                 and top <= 0.08)
    return kept
