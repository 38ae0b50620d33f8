"""The registry tools under ``tools/`` share one runner (``tools/_registry.py``):
one unknown-name rule, one cost counter behind ``time_registry.py``, and no
tool of their own re-doing what the runner does."""

from __future__ import annotations

import importlib.util
import json
import pathlib
import re
import subprocess
import sys

import pytest

_REPO = pathlib.Path(__file__).resolve().parent.parent
_TOOLS = _REPO / "tools"
_SF = "/root/testdata/sf0.001"
_BOGUS = "no_such_query_xyz"


def _run(*args, timeout=600):
    return subprocess.run(
        [sys.executable, *map(str, args)], capture_output=True, text=True, cwd=_REPO, timeout=timeout
    )


def _load(name):
    spec = importlib.util.spec_from_file_location(name, _TOOLS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize(
    "tool, before",
    [
        ("check_oracle", [_SF]),
        ("plan_neutrality", [_SF]),
        ("vanilla_session_probe", ["<ref>", _SF]),
        ("shuffle_invariance_probe", [_SF]),
        ("diff_audit", [_SF]),
        ("type_audit", [_SF]),
        ("float_order_audit", []),
        ("plan_audit", [_SF]),
        ("pushdown_audit", [_SF]),
        ("time_registry", [_SF]),
        ("scale_iter", []),
        ("guard_band_audit", [_SF]),
    ],
)
def test_unknown_query_name_exits_nonzero(tool, before, tmp_path):
    ref = tmp_path / "ref.json"
    ref.write_text(json.dumps({"queries": {}}))
    args = [ref if a == "<ref>" else a for a in before]
    r = _run(_TOOLS / f"{tool}.py", *args, "dedup_exact", _BOGUS)
    assert r.returncode != 0, r.stdout + r.stderr
    assert _BOGUS in r.stdout + r.stderr


def test_time_registry_reports_build_action_jobs_compiles():
    r = _run(_TOOLS / "time_registry.py", _SF, "--warmup", "dedup_exact")
    assert r.returncode == 0, r.stdout + r.stderr
    line = next(ln for ln in r.stdout.splitlines() if re.search(r"\bdedup_exact\b.*build_s=", ln))
    for key in ("build_s", "action_s", "jobs", "compiles"):
        assert f"{key}=" in line, line
    rec = json.loads(pathlib.Path("/tmp/registry_times_sf0.001.json").read_text())["dedup_exact"]
    assert {"build_s", "action_s", "jobs", "compiles"} <= set(rec)
    assert rec["jobs"] >= 1
    assert rec["s"] == pytest.approx(rec["build_s"] + rec["action_s"], abs=2e-3)


def test_shuffle_probe_fails_on_an_error_in_either_session():
    compare = _load("shuffle_invariance_probe").compare
    rows = [("1", "a"), ("2", "b")]
    assert compare("q", rows, list(rows)) == ("ok    q (2 rows bit-equal across 32/7 parts)", True)
    # both sessions raising the same error used to compare equal
    line, passed = compare("q", "KeyError: 'q'", "KeyError: 'q'")
    assert not passed and line.startswith("ERROR q:")
    assert not compare("q", rows, "boom")[1]
    assert not compare("q", "boom", rows)[1]
    line, passed = compare("q", rows, [("1", "a"), ("2", "c")])
    assert (line, passed) == ("DIVERGES q: 1 differing rows across 32/7 parts", False)


def test_select_keeps_registry_or_given_order():
    sys.path.insert(0, str(_TOOLS))
    try:
        import _registry
    finally:
        sys.path.remove(str(_TOOLS))
    reg = {"a": 0, "b": 1, "c": 2}
    assert _registry.select([], reg) == ["a", "b", "c"]
    assert _registry.select([], reg, default=["c"]) == ["c"]
    assert _registry.select(["c", "a"], reg) == ["a", "c"]
    assert _registry.select(["c", "a"], reg, ordered=True) == ["c", "a"]
    with pytest.raises(SystemExit, match="'x', 'y'"):
        _registry.select(["y", "a", "x"], reg)


def test_only_the_runner_loads_the_registry():
    """No tool but ``_registry.py`` puts the repository on ``sys.path``,
    imports the entry module, creates DuckDB views or sets a job group."""
    copies = re.compile(r"sys\.path\.insert|import __spark_entry__|CREATE (OR REPLACE )?VIEW|setJobGroup")
    offenders = [
        p.name
        for p in sorted(_TOOLS.glob("*.py"))
        if p.name != "_registry.py" and copies.search(p.read_text())
    ]
    assert offenders == []
