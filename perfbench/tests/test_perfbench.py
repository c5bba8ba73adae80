"""The benchmark's own tests, with tiny crawl inputs.

    python3 -m pytest perfbench/tests -q

The subprocess tests run the real command line (``--tiny`` inputs) and
take a few minutes; ``-m "not slow"`` skips them.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import checks, workloads  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_follows_the_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert SPEC["paths"] == ["perfbench"]
    assert 1 <= SPEC["run_seconds"] <= 60
    names = [w["name"] for w in SPEC["workloads"]]
    assert names == ["crawl_big_frontier", "analytics_suite"]
    assert set(names) <= set(workloads.WORKLOADS)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in SPEC["workloads"])
    seen = set(names)
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= SPEC["end_to_end"][0].items()
    assert max(m["bound"] for m in SPEC["end_to_end"]) == SPEC["end_to_end"][0]["bound"]
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
        assert m["better"] in ("higher", "lower")
        assert m["name"] not in seen, m["name"]
        seen.add(m["name"])
    assert all(set(m) == {"name", "unit", "better"} for m in SPEC["per_layer"])


def test_self_time_subtracts_the_union_of_overlapping_children():
    tr = Tracer()
    with tr.span("crawl.epoch"):
        def sink():
            with tr.span("sources.catalog.append.t"):
                time.sleep(0.2)

        pool = [threading.Thread(target=sink) for _ in range(3)]
        for t in pool:
            t.start()
        for t in pool:
            t.join(timeout=10)
        assert not any(t.is_alive() for t in pool)
    epoch = tr.spans[0]
    assert all(sp.parent == epoch.id for sp in tr.spans[1:])
    selfs = tr.self_seconds()
    # three overlapping 0.2 s children cover ~0.2 s of the epoch, not 0.6 s
    assert 0.0 <= selfs[epoch.id] < 0.1
    assert tr.total("sources.catalog") == pytest.approx(
        sum(sp.seconds for sp in tr.spans[1:]))
    layers = tr.layer_self_seconds(["crawl", "sources.catalog"])
    assert layers["sources.catalog"] == pytest.approx(tr.total("sources.catalog"))


def test_wrap_records_and_restores():
    class Box:
        def put(self, table, x):
            return x + 1

    tr = Tracer()
    original = Box.put
    tr.wrap(Box, "put", lambda a, k: f"sources.catalog.put.{a[1]}")
    assert Box().put("urls", 1) == 2
    tr.restore()
    assert Box.put is original
    assert [sp.name for sp in tr.spans] == ["sources.catalog.put.urls"]


def test_value_hash_ignores_row_and_column_order_only():
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})
    b = pd.DataFrame({"v": [0.25, 0.5], "k": [2, 1]})
    assert workloads.value_hash(a) == workloads.value_hash(b)
    assert workloads.value_hash(a) != workloads.value_hash(a.iloc[:1])


def test_analytics_inputs_are_the_tables_the_oracles_read():
    import __spark_entry__ as E

    oracles = E.oracle_sql()
    for key in workloads.QUERIES:
        assert key in oracles
    for t in workloads.TABLES:
        assert os.path.isfile(os.path.join(workloads.DATA_DIR, f"{t}.parquet"))


# ------------------------------------------------------------ corrupted catalog


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    from scrapetition_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    work = tmp_path_factory.mktemp("crawl")
    wl = workloads.CrawlWorkload(spark, "crawl_big_frontier", 5, str(work), tiny=True)
    prep = wl.prepare(0)
    unit = wl.run_unit(prep, 0)
    assert not unit.failures
    return wl, prep


def _checks(wl, prep, root):
    s = wl.spec
    return {
        name: ok for name, ok, _ in checks.crawl_checks(
            wl.spark, root, prep.docs, prep.seeds, sum(st.urls_due for st in prep.stats),
            s.per_host_budget, s.max_urls_per_epoch, s.n_comments,
            workloads.LINK_COLLECTORS,
        )
    }


def _copy(prep, tmp_path):
    root = str(tmp_path / "catalog")
    shutil.copytree(prep.root, root)
    # manifests name their members by absolute path: point them at the copy
    for table in checks.tables(root):
        for f in Path(root, table).glob("snap-*.json"):
            f.write_text(f.read_text().replace(prep.root, root))
    return root


def test_checks_pass_on_the_crawled_catalog(crawled):
    wl, prep = crawled
    got = _checks(wl, prep, prep.root)
    assert got and all(got.values()), got


def test_duplicated_seen_row_fails(crawled, tmp_path):
    from scrapetition_spark.sources.catalog import Catalog

    wl, prep = crawled
    root = _copy(prep, tmp_path)
    row = checks.read_table(wl.spark, root, "urls_seen").limit(1)
    Catalog(wl.spark, root).append("urls_seen", row.localCheckpoint())
    got = _checks(wl, prep, root)
    assert not got["seen_unique"] and not got["seen_size"]


def test_dropped_comment_fails(crawled, tmp_path):
    from scrapetition_spark.sources.catalog import Catalog

    wl, prep = crawled
    root = _copy(prep, tmp_path)
    comments = checks.read_table(wl.spark, root, "comments")
    kept = comments.exceptAll(comments.limit(1)).localCheckpoint()
    Catalog(wl.spark, root).overwrite("comments", kept)
    got = _checks(wl, prep, root)
    assert not got["comments_count"]
    assert got["seen_unique"] and got["host_budget"]


def test_over_budget_host_fails(crawled, tmp_path):
    from pyspark.sql import functions as F

    from scrapetition_spark.sources.catalog import Catalog

    wl, prep = crawled
    root = _copy(prep, tmp_path)
    seen = checks.read_table(wl.spark, root, "urls_seen")
    first = seen.orderBy("fetch_seq").first()
    # move a second fetch of the same epoch onto the first row's host
    moved = seen.withColumn(
        "host",
        F.when((F.col("fetch_seq") == first["fetch_seq"] + 1), F.lit(first["host"]))
        .otherwise(F.col("host")),
    ).localCheckpoint()
    Catalog(wl.spark, root).overwrite("urls_seen", moved)
    got = _checks(wl, prep, root)
    assert not got["host_budget"]
    assert got["seen_unique"] and got["fetch_seq_dense"]


def test_dropped_url_fails_closure(crawled, tmp_path):
    from scrapetition_spark.sources.catalog import Catalog

    wl, prep = crawled
    root = _copy(prep, tmp_path)
    urls = checks.read_table(wl.spark, root, "urls")
    Catalog(wl.spark, root).overwrite(
        "urls", urls.exceptAll(urls.limit(1)).localCheckpoint())
    assert not _checks(wl, prep, root)["urls_closure"]


# ------------------------------------------------------------- command line


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def _assert_metrics(got: dict, wanted: list[dict]) -> None:
    assert list(got) == [m["name"] for m in wanted]
    for m in wanted:
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(got[m["name"]]["value"], float)


@pytest.mark.slow
@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_traced_run_prints_every_metric(workload):
    report, result = _run(workload, 1)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    _assert_metrics(result["metrics"], SPEC["per_layer"])
    assert list(report["end_to_end"]) == [m["name"] for m in SPEC["end_to_end"]]
    assert report["failed_ratio"] == 0.0 and report["trace_overhead"]
    if workload.startswith("crawl"):
        assert result["metrics"]["crawl.urls_due"]["value"] > 0
    else:
        assert result["metrics"]["operators.text.p2_full_pipeline_s"]["value"] > 0


@pytest.mark.slow
def test_untraced_run_prints_every_end_to_end_metric():
    report, result = _run("crawl_big_frontier", 0)
    assert result["correct"]
    _assert_metrics(result["metrics"], SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert {"crawl_urls_per_s", "epoch_s_p50", "resume_s", "catalog_bytes_per_url",
            "failed_ratio", "settings"} <= set(report)


def test_run_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_wide", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
