"""Self-tests of the benchmark harness (no SparkSession needed).

Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
from types import SimpleNamespace

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, datagen, run, workloads  # noqa: E402
from perfbench.trace import Span, Tracer, self_times  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@pytest.fixture(scope="module")
def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_names_are_well_formed(bench):
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))


def test_benchmark_json_matches_the_harness(bench):
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in bench["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


@pytest.mark.parametrize("units", [run.END_TO_END, run.per_layer_units()])
def test_every_metric_is_printed_with_its_unit(units):
    values = {k: float(i + 1) for i, k in enumerate(units)}
    out = json.loads(run.metric_line(True, 3, 0, values, units))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"] == {k: {"value": values[k], "unit": u} for k, u in units.items()}


def test_self_time_on_a_synthetic_span_tree():
    spans = [
        Span("root", 0.0, 10.0, None, 1),
        Span("a", 1.0, 3.0, 0, 1),
        Span("b", 2.0, 5.0, 0, 1),      # overlaps a: 1..5 covered once
        Span("c", 8.0, 12.0, 0, 1),     # clipped to the root: 8..10
        Span("a.child", 1.5, 2.5, 1, 1),
    ]
    assert self_times(spans) == pytest.approx([4.0, 1.0, 3.0, 4.0, 1.0])


def test_tracer_nests_counts_and_restores():
    jobs = iter(range(100))
    tracer = Tracer(lambda: {"jobs": next(jobs)})
    ns = SimpleNamespace(inner=lambda x: x + 1)
    ns.outer = lambda x: ns.inner(x) * 2
    orig_inner, orig_outer = ns.inner, ns.outer
    tracer.wrap(ns, "inner", "inner")
    tracer.wrap(ns, "outer", lambda x: f"outer:{x}")
    assert ns.outer(1) == 4
    outer, inner = sorted(tracer.spans, key=lambda s: s.start)
    assert (outer.name, inner.name) == ("outer:1", "inner")
    assert inner.parent == tracer.spans.index(outer) and outer.parent is None
    assert outer.counters["jobs"] == 3 and inner.counters["jobs"] == 1
    tracer.restore()
    assert (ns.inner, ns.outer) == (orig_inner, orig_outer)


ROWS = [
    # InvoiceNo, StockCode, Description, Quantity, InvoiceDate, UnitPrice, CustomerID, Country
    ("1", "A", "a", "2", "2011-01-03 08:00:00", "1.50", "17850", "UK"),
    ("1", "A", "a alt", "2", "2011-01-03 08:00:00", "1.50", "17850", "UK"),  # duplicate
    ("2", "B", "b", "-1", "2011-01-04 09:00:00", "3.00", "", "FR"),          # return, no customer
    ("3", "C", "c", "0", "2011-01-04 09:00:00", "3.00", "12346", "FR"),      # zero quantity
    ("4", "D", "d", "5", "2011-01-05 10:00:00", "0.00", "12346", "FR"),      # zero price
    ("5", "E", "e", "1", "garbage-date", "9.99", "12346", "FR"),             # NULL date
]


@pytest.fixture
def tiny_csv(tmp_path) -> str:
    path = tmp_path / "retail.csv"
    pd.DataFrame(ROWS, columns=["InvoiceNo", "StockCode", "Description", "Quantity",
                                "InvoiceDate", "UnitPrice", "CustomerID",
                                "Country"]).to_csv(path, index=False)
    return str(path)


def test_etl_expected_recomputes_the_clean_chain(tiny_csv):
    exp = checks.etl_expected(tiny_csv)
    assert exp["stage_counts"] == [
        ("remove_nulls", 6, 5), ("remove_duplicates", 5, 4),
        ("remove_zero_quantities", 4, 3), ("remove_invalid_prices", 3, 2),
    ]
    assert exp["fact_rows"] == 2
    assert (exp["dim_product_rows"], exp["dim_customer_rows"], exp["dim_date_rows"]) == (2, 2, 2)
    assert exp["total_revenue"] == "0.00"  # 2 x 1.50 - 1 x 3.00


def _result(exp: dict, **changes) -> SimpleNamespace:
    fields = {k: v for k, v in exp.items() if k != "stage_counts"}
    fields["stage_metrics"] = [SimpleNamespace(stage_name=n, rows_before=b, rows_after=a)
                               for n, b, a in exp["stage_counts"]]
    fields["stage_attempts"] = []
    fields.update(changes)
    return SimpleNamespace(**fields)


class _FakeSpark:
    catalog = SimpleNamespace(clearCache=lambda: None)
    sparkContext = SimpleNamespace(_jsc=SimpleNamespace(getPersistentRDDs=dict))


def test_wrong_expected_value_fails_the_check_and_counts(tiny_csv, tmp_path, monkeypatch):
    exp = checks.etl_expected(tiny_csv)
    assert checks.etl_mismatches(_result(exp), exp) == []
    from retail_sales_etl_pipeline_spark.plans import retail_pipeline

    monkeypatch.setattr(retail_pipeline, "run", lambda *a, **k: _result(exp))
    outcome = workloads.Outcome()
    wl = workloads.EtlFullRefresh(_FakeSpark(), None, str(tmp_path), outcome)
    wl.csv = tiny_csv
    wl.expected = dict(exp)
    wl.run_pass(1)
    assert (outcome.attempted, outcome.errors) == (1, [])
    wl.expected["total_revenue"] = "0.01"  # deliberately wrong
    wl.run_pass(2)
    assert outcome.attempted == 2 and len(outcome.errors) == 1
    assert "total_revenue" in outcome.errors[0]


def test_oracle_checker_flags_a_wrong_oracle(tmp_path):
    datagen.documents(str(tmp_path), 40, seed=3)
    checker = checks.OracleChecker(str(tmp_path), ("documents",))
    try:
        spark_side = checker.con.execute("SELECT COUNT(*) AS n FROM documents").df()
        right = SimpleNamespace(oracle="SELECT COUNT(*) AS n FROM documents")
        wrong = SimpleNamespace(oracle="SELECT COUNT(*) + 1 AS n FROM documents")
        assert checker.mismatch(right, spark_side) is None
        assert checker.mismatch(wrong, spark_side) is not None
        assert checker.mismatch(SimpleNamespace(oracle=None), spark_side.iloc[:0]) == "no rows"
    finally:
        checker.close()


def test_inputs_are_a_function_of_the_seed(tmp_path):
    def make(d: str, seed: int) -> bytes:
        datagen.documents(d, 30, seed)
        datagen.retail_csv(os.path.join(d, "r.csv"), 200, seed)
        with open(os.path.join(d, "documents.parquet"), "rb") as f, \
                open(os.path.join(d, "r.csv"), "rb") as g:
            return f.read() + g.read()

    a, b, c = (make(str(tmp_path / n), s) for n, s in (("a", 1), ("b", 1), ("c", 2)))
    assert a == b != c


def test_cpu_clock_counts_reaped_children():
    import subprocess

    from perfbench.probe import SparkProbe

    probe = SparkProbe.__new__(SparkProbe)
    probe.jvm_pid = os.getpid()  # the tree under this process stands in for the JVM's
    c0 = probe.cpu_seconds()
    subprocess.run([sys.executable, "-c", "sum(range(20_000_000))"], check=True)
    assert probe.cpu_seconds() - c0 >= 0.1


def test_wait_ended_outlasts_and_kills_a_process():
    import subprocess
    import time

    from perfbench.probe import process_tree, wait_ended

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    assert child.pid in process_tree(os.getpid())
    t0 = time.monotonic()
    wait_ended([child.pid], timeout=0.2)
    assert child.poll() is not None and time.monotonic() - t0 < 10
