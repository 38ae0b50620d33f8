"""``tools/plan_neutrality.py`` masks what varies between runs of one
commit and keeps what describes the plan's shape."""

from __future__ import annotations

import importlib.util
import pathlib

_PATH = pathlib.Path(__file__).resolve().parent.parent / "tools" / "plan_neutrality.py"
_spec = importlib.util.spec_from_file_location("plan_neutrality", _PATH)
plan_neutrality = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_neutrality)
normalize = plan_neutrality.normalize


def test_codegen_ids_are_masked():
    a = "(3) HashAggregate [codegen id : 2]\nInput [2]: [a#12L, b#13L]"
    b = "(3) HashAggregate [codegen id : 7]\nInput [2]: [a#40L, b#41L]"
    assert normalize(a) == normalize(b)
    assert "[codegen id : N]" in normalize(a)


def test_rdd_call_sites_are_masked():
    a = (
        "Arguments: [a#1L], MapPartitionsRDD[31] at localCheckpoint at "
        "NativeMethodAccessorImpl.java:0, ExistingRDD"
    )
    b = (
        "Arguments: [a#9L], MapPartitionsRDD[87] at localCheckpoint at "
        "<unknown>:0, ExistingRDD"
    )
    assert normalize(a) == normalize(b)
    assert "RDD[N] at localCheckpoint," in normalize(a)
    assert normalize(a) != normalize(b.replace("localCheckpoint", "checkpoint"))


def test_common_expression_names_are_masked():
    a = "if ((_common_expr_0#12 = 0.0)) null else _common_expr_0#12"
    b = "if ((_common_expr_3#40 = 0.0)) null else _common_expr_3#40"
    assert normalize(a) == normalize(b)


def test_shape_differences_survive():
    a = "(3) HashAggregate [codegen id : 2]\nKeys [1]: [a#12L]"
    b = "(3) SortAggregate [codegen id : 2]\nKeys [1]: [a#12L]"
    assert normalize(a) != normalize(b)
    # operator numbers are plan shape, not run-to-run noise
    assert normalize("(3) Project") != normalize("(4) Project")
    assert normalize("hashpartitioning(a#1, 4)") != normalize(
        "hashpartitioning(a#1, 8)"
    )


def test_staging_paths_are_masked():
    a = "Location: InMemoryFileIndex [file:/tmp/os_gate_local-1792447885690/pinnacle.csv]"
    b = "Location: InMemoryFileIndex [file:/tmp/os_gate_local-1792447906572/pinnacle.csv]"
    assert normalize(a) == normalize(b)
    assert "file:/tmp/os_gate_N/pinnacle.csv" in normalize(a)
    # the rest of the path is plan shape: a different staged table differs
    assert normalize(a) != normalize(b.replace("pinnacle.csv", "rows.csv"))


def test_application_ids_are_masked():
    a = "PartitionFilters: [], Location: file:/data/local-1792447885690/state"
    b = "PartitionFilters: [], Location: file:/data/local-1792447906572/state"
    assert normalize(a) == normalize(b)
