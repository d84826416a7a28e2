"""Self-tests of the benchmark at tiny scale.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
The end-to-end cases start the benchmark CLI (one JVM each, about a minute
apiece); the rest need no Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.tracer import Tracer  # noqa: E402
from perfbench.workloads import check_lake  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

# layers each workload must reach in a traced run
TOUCHED = {
    "query_mix": ("catalog", "operators", "similarity", "streaming", "sinks", "queries"),
    "medallion_backfill": ("sources", "operators", "sinks", "plans"),
    "market_feed": ("operators", "sinks", "plans"),
}


def _bench(*args: str, code: str | None = None) -> tuple[list[str], dict]:
    cmd = [sys.executable]
    cmd += ["-c", code] if code else [os.path.join("perfbench", "run.py")]
    proc = subprocess.run(
        cmd + ["--seed", "3", "--seconds", "1", "--tiny", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def _assert_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_query_mix_prints_every_end_to_end_metric_with_its_unit():
    lines, result = _bench("--workload", "query_mix", "--trace", "0")
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    _assert_metrics(result, SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert any(
            line.startswith(f"{m['name']} = ") and line.endswith(f" {m['unit']}")
            for line in lines
        ), m["name"]
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", sorted(TOUCHED))
def test_traced_run_reports_per_layer_metrics(workload):
    lines, result = _bench("--workload", workload, "--trace", "1")
    assert result["correct"], lines[-3:]
    _assert_metrics(result, SPEC["per_layer"])
    for layer in TOUCHED[workload]:
        assert result["metrics"][f"{layer}.calls"]["value"] > 0, layer
    assert result["metrics"]["spark.jobs"]["value"] > 0
    if workload != "medallion_backfill":
        assert result["metrics"]["streaming.batches"]["value"] > 0
    # the human-readable lines carry the end-to-end metrics in traced runs too
    for m in SPEC["end_to_end"]:
        assert any(line.startswith(f"{m['name']} = ") for line in lines), m["name"]


def test_injected_wrong_result_raises_fail_ratio():
    code = (
        "import sys; sys.path[:0] = ['.', 'tools']\n"
        "from high_volume_market_data_pipeline_spark.queries import QUERIES\n"
        "real = QUERIES['pricing_summary']\n"
        "QUERIES['pricing_summary'] = lambda spark, d: real(spark, d).limit(1)\n"
        "from perfbench.run import main\n"
        "sys.exit(main(sys.argv[1:]))\n"
    )
    lines, result = _bench("--workload", "query_mix", "--trace", "0", code=code)
    summary = json.loads(next(x for x in lines if x.startswith("summary "))[8:])
    assert not result["correct"]
    assert 0 < result["failed"] < result["attempted"]
    assert summary["fail_ratio"] == result["failed"] / result["attempted"]


def test_missing_package_exits_nonzero_without_result(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for name in ("run.py", "__init__.py", "tracer.py", "workloads.py", "datagen.py"):
        src = os.path.join(ROOT, "perfbench", name)
        (tmp_path / "perfbench" / name).write_text(open(src).read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


# --- no Spark below ----------------------------------------------------------


def _digest(path: str) -> list:
    return sorted(
        (name, pq.read_table(os.path.join(path, name)).to_pylist().__repr__())
        for name in os.listdir(path)
    )


def test_datagen_same_seed_same_inputs(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    assert datagen.write_tables(a, 7) == datagen.write_tables(b, 7)
    datagen.write_tables(c, 8)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    ta = datagen.write_ticks(str(tmp_path / "ta"), 7, 3, 4)
    tb = datagen.write_ticks(str(tmp_path / "tb"), 7, 3, 4)
    assert [pq.read_table(x).to_pylist() for x in ta] == [
        pq.read_table(x).to_pylist() for x in tb
    ]


def test_ticks_carry_duplicates_and_late_rows(tmp_path):
    paths = datagen.write_ticks(str(tmp_path), 5, 4, 20)
    con = duckdb.connect()
    rows, keys = con.execute(
        f"SELECT COUNT(*), COUNT(DISTINCT (id, last_updated)) FROM read_parquet({paths!r})"
    ).fetchone()
    assert keys == 4 * 6 * 20  # every snapshot arrives exactly once …
    assert rows > keys  # … plus re-delivered copies
    # a late row of tick 0's window first arrives in tick 1
    (late,) = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{paths[1]}') "
        f"WHERE (id, last_updated) NOT IN (SELECT (id, last_updated) "
        f"FROM read_parquet('{paths[0]}')) AND last_updated < '2024-03-01T06:00:00'"
    ).fetchone()
    assert late > 0


def _lake(root, src_rows):
    """A hand-built medallion lake over ``src_rows`` (raw schema)."""
    raw = pa.Table.from_pylist(src_rows, schema=datagen.RAW_SCHEMA)
    os.makedirs(f"{root}/src")
    pq.write_table(raw, f"{root}/src/a.parquet")
    silver = f"{root}/silver/market_snapshots/partition_date=2024-03-01"
    os.makedirs(silver)
    pq.write_table(raw, f"{silver}/a.parquet")
    con = duckdb.connect()
    gold = con.execute(
        f"SELECT DATE '2024-03-01' AS partition_date,"
        f" SUM(market_cap) AS total_market_cap, AVG(current_price) AS avg_price"
        f" FROM read_parquet('{root}/src/a.parquet')"
    ).arrow()
    os.makedirs(f"{root}/gold/market_stats")
    pq.write_table(gold, f"{root}/gold/market_stats/a.parquet")
    gold.to_pandas().to_csv(f"{root}/final_report.csv", index=False)
    return f"{root}/src/*.parquet"


def test_check_lake_accepts_match_and_rejects_wrong_report(tmp_path):
    rows = [
        dict(id=f"coin-{i}", symbol=f"c{i}", name=f"Coin {i}", current_price=10.0 + i,
             market_cap=1000 * (i + 1), total_volume=100 + i,
             last_updated="2024-03-01T05:00:00")
        for i in range(4)
    ]
    root = str(tmp_path)
    source = _lake(root, rows)
    assert check_lake(root, source)
    with open(f"{root}/final_report.csv", "a") as fh:
        fh.write("2024-03-02,1.0,1.0\n")
    assert not check_lake(root, source)


def test_tracer_self_time_excludes_children():
    tracer = Tracer()
    tracer.enable()
    with tracer.span("queries", "outer"):
        time.sleep(0.05)
        with tracer.span("operators", "inner"):
            time.sleep(0.1)
        tracer.wrap("sinks", lambda: time.sleep(0.05))()
    tracer.enabled = False
    with tracer.span("queries", "ignored"):
        pass
    out = tracer.report(wall_s=0.2)
    assert out["queries.calls"] == 1 and out["operators.calls"] == 1
    assert out["sinks.calls"] == 1
    assert 0.04 < out["queries.self_s"] < 0.09
    assert 0.09 < out["operators.self_s"] < 0.14
    assert out["spark.jobs"] == 0 and out["driver.outside_job_s"] == 0.2
