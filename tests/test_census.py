"""Guards for the committed registry census (tools/census.py).

A full sweep takes minutes, so these tests check the committed tables
(their names are the registry and every line has the census schema),
re-run a few cheap names at the test scale against their committed
lines, and check that a one-literal change to a query changes its hash.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import re
import subprocess
import sys

import pytest

import __spark_entry__ as entry_mod
from grouper_spark.queries import load_all, relational
from tools.census import FIELDS, ROOT, census, oracle_connection

TABLES = sorted(glob.glob(os.path.join(ROOT, "CENSUS_*.json")))


# Job counts depend on the session's cpus; the result fields do not.
RESULT = ("status", "rows", "columns", "hash")


def _committed(sf_dir):
    path = os.path.join(ROOT, f"CENSUS_{os.path.basename(sf_dir)}.json")
    with open(path) as f:
        return json.load(f)["queries"]


@pytest.fixture(scope="module")
def duck(sf_dir):
    return oracle_connection(sf_dir)


def test_both_scales_are_committed():
    names = [os.path.basename(p) for p in TABLES]
    assert {"CENSUS_sf0.001.json", "CENSUS_sf0.01.json"} <= set(names)


@pytest.mark.parametrize("path", TABLES, ids=map(os.path.basename, TABLES))
def test_table_names_are_the_registry_and_lines_match_the_schema(path):
    with open(path) as f:
        text = f.read()
    head, *lines, tail = text.splitlines()
    header = json.loads(head + "}}")
    assert isinstance(header["cpus"], int) and header["cpus"] > 0
    assert re.fullmatch(r"\d+\.\d+\.\d+.*", header["pyspark"])
    assert tail == "}}"
    names = []
    for line in lines:
        (name, row), = json.loads("{" + line.removesuffix(",") + "}").items()
        names.append(name)
        assert tuple(row) == FIELDS, name
        assert row["status"] in ("PASS", "ROWS"), name
        assert re.fullmatch(r"[0-9a-f]{40}", row["hash"]), name
        for field in ("rows", "columns", "fn_jobs", "collect_jobs"):
            assert isinstance(row[field], int) and row[field] >= 0, name
    assert names == sorted(load_all())
    assert list(json.loads(text)["queries"]) == names


@pytest.mark.parametrize(
    "name",
    ["q01_pricing_summary", "q02_filter_predicates", "q123_hll_sketch_merge"],
)
def test_fresh_census_reproduces_the_committed_line(spark, sf_dir, duck, name):
    fn = entry_mod.queries()[name]
    line, report = census(
        spark, duck, sf_dir, name, fn, entry_mod.oracle_sql().get(name)
    )
    want = _committed(sf_dir)[name]
    assert [line[k] for k in RESULT] == [want[k] for k in RESULT], report


def test_one_changed_literal_changes_the_hash(spark, sf_dir, duck):
    src = inspect.getsource(relational.q01_pricing_summary)
    src = src[src.index("def q01_pricing_summary"):]
    assert src.count('(1 + F.col("l_tax"))') == 1
    scope = dict(vars(relational))
    exec(src.replace('(1 + F.col("l_tax"))', '(2 + F.col("l_tax"))'), scope)
    name = "q01_pricing_summary"
    line, _ = census(
        spark, duck, sf_dir, name, scope[name], load_all()[name].oracle
    )
    want = _committed(sf_dir)[name]
    assert (line["rows"], line["columns"]) == (want["rows"], want["columns"])
    assert line["hash"] != want["hash"]
    assert line["status"] == "FAIL"


def test_an_unknown_name_is_rejected_before_the_session_starts(sf_dir):
    path = os.path.join(ROOT, f"CENSUS_{os.path.basename(sf_dir)}.json")
    with open(path, "rb") as f:
        before = f.read()
    run = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "census.py"), sf_dir,
         "q01_pricing_summary", "no_such_query"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert run.returncode != 0
    assert "no_such_query" in run.stderr
    assert "q01_pricing_summary" not in run.stderr
    assert run.stdout == ""
    with open(path, "rb") as f:
        assert f.read() == before
