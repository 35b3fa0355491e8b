"""Tooling drift guard, no Spark session: every bench/job/script file, the
repo benchmark's included, compiles (``scripts/*.sh`` pass ``sh -n``), its
engine imports resolve, the bench leaf names are driver queries,
``scripts/bench_scaling.py`` holds both scaling modes and writes the run it
measured, and ``scripts/ab.py`` summarizes pairs correctly.

The scripts run rarely and by hand, so a rename in the engine otherwise
surfaces only as an ``ImportError``/``AttributeError`` minutes into a run.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import pathlib
import subprocess

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
TOOLING = (
    sorted(ROOT.glob("scripts/*.py"))
    + sorted(ROOT.glob("perfbench/*.py"))
    + [ROOT / "bench.py", ROOT / "jobs" / "extract_job.py"]
)
IDS = [p.relative_to(ROOT).as_posix() for p in TOOLING]
SHELL = sorted(ROOT.glob("scripts/*.sh"))


def _tree(path: pathlib.Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


@pytest.mark.parametrize("path", TOOLING, ids=IDS)
def test_tooling_file_compiles(path):
    compile(path.read_text(encoding="utf-8"), str(path), "exec")


@pytest.mark.parametrize("path", SHELL, ids=[p.name for p in SHELL])
def test_shell_script_syntax(path):
    r = subprocess.run(["sh", "-n", str(path)], capture_output=True, text=True)
    assert r.returncode == 0, f"{path.name}: {r.stderr}"


@pytest.mark.parametrize("path", TOOLING, ids=IDS)
def test_tooling_engine_imports_resolve(path):
    missing = []
    for node in ast.walk(_tree(path)):
        if not (
            isinstance(node, ast.ImportFrom)
            and node.module
            and node.module.split(".")[0] == "cpp_paddle_ocr_spark"
        ):
            continue
        mod = importlib.import_module(node.module)
        for alias in node.names:
            if hasattr(mod, alias.name):
                continue
            try:  # a submodule not imported by its package's __init__
                importlib.import_module(f"{node.module}.{alias.name}")
            except ModuleNotFoundError:
                missing.append(f"{node.module}.{alias.name} (line {node.lineno})")
    assert not missing, f"{path.name}: unresolved engine imports {missing}"


def _tuple_constant(path: pathlib.Path, name: str) -> tuple[str, ...]:
    for node in _tree(path).body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == name for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError(f"{name} not assigned at module level in {path.name}")


@pytest.mark.parametrize("path, name", [("bench.py", "OPERATOR_LEAVES")])
def test_bench_leaf_names_are_driver_queries(path, name):
    import __spark_entry__

    names = _tuple_constant(ROOT / path, name)
    assert names, f"{path}: {name} is empty"
    unknown = sorted(set(names) - set(__spark_entry__.queries()))
    assert not unknown, f"{path}: {name} names no driver query: {unknown}"


def _load_script(name: str):
    spec = importlib.util.spec_from_file_location(name, ROOT / "scripts" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_scaling_pairings_and_writer(tmp_path):
    import json

    scaling = _load_script("bench_scaling")
    files = {name: pairings for name, _, _, pairings in scaling.RUNS}
    assert set(files) == {"scaling.json", "scaling_executors.json"}
    masters = [m for pairings in files.values() for p in pairings for m in p[:2]]
    assert {"local[2]", "local[8]", "local[32]"} <= set(masters)
    assert sum(m.startswith("local-cluster[") for m in masters) == 4
    for pairings in files.values():  # every pairing is N -> 4N cores
        for small, big, _ in pairings:
            assert scaling._cores(big) == 4 * scaling._cores(small)

    # the writer records the run it measured, not a better earlier one
    out = tmp_path / "scaling.json"
    out.write_text(json.dumps({"cores_small": 2, "scaling_efficiency": 1.04}))
    scaling.write_result(out, {"cores_small": 2, "scaling_efficiency": 0.92})
    assert json.loads(out.read_text())["scaling_efficiency"] == 0.92


def test_ab_pair_summary():
    ab = _load_script("ab")

    a = [10.0, 12.0, 11.0, 13.0, 9.0]
    b = [11.0, 12.0, 10.0, 14.0, 10.0]
    # B/A = 1.1, 1.0, 0.909, 1.077, 1.111; A quartiles 10 and 12, median 11
    s = ab.pair_summary(a, b, "higher")
    assert s["wins"] == 3  # the tie in pair 2 counts for neither side
    assert s["median_ratio"] == pytest.approx(14.0 / 13.0)
    assert s["a_iqr_over_median"] == pytest.approx(2.0 / 11.0)
    assert ab.pair_summary(a, b, "lower")["wins"] == 1
    assert not s["gain"]
    one = ab.pair_summary([4.0], [3.0], "lower")
    assert (one["wins"], one["median_ratio"], one["a_iqr_over_median"]) == (1, 0.75, 0.0)

    # the gain rule: B wins >= 9 of 10 pairs AND its median leads A's by
    # more than A's IQR (A: median 104.5, quartiles 102.25 and 106.75)
    a = [100.0, 102.0, 104.0, 106.0, 108.0, 101.0, 103.0, 105.0, 107.0, 109.0]
    up = [x + 8.0 for x in a[:9]] + [a[9] - 1.0]  # 9/10 wins, median +7
    assert ab.pair_summary(a, up, "higher")["gain"]
    assert not ab.pair_summary(a, up, "lower")["gain"]
    near = [x + 4.0 for x in a]  # 10/10 wins, but +4 is inside A's IQR
    s = ab.pair_summary(a, near, "higher")
    assert s["wins"] == 10 and not s["gain"]
    assert not ab.pair_summary(a, up[:8] + a[8:], "higher")["gain"]  # 8/10 wins


def test_bench_leaf_label_set_and_cleared():
    # each timed bench leaf labels its Spark jobs with the leaf name and
    # clears the label afterwards, even when the leaf fails
    spec = importlib.util.spec_from_file_location("bench", ROOT / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    class Sc:
        calls: list = []

        def setJobDescription(self, value):
            self.calls.append(value)

    sc = Sc()
    with bench.labelled(sc, "dedup_clusters"):
        assert sc.calls == ["dedup_clusters"]
    with pytest.raises(ValueError), bench.labelled(sc, "fingerprint"):
        raise ValueError
    assert sc.calls == ["dedup_clusters", None, "fingerprint", None]


#: Defaulted engine parameters that no caller sets and that stay settable:
#: deployment settings (a reliable checkpoint dir, a stream trigger, a state
#: TTL), query inputs (which vector, how many neighbors), the IVF sizing
#: levers the similarity module documents for web scale, and a trained
#: model. Every other default is a tuning constant: the operator reads the
#: module constant its oracle reads.
KEPT = {
    "dedup_clusters(checkpoint_dir)",
    "semantic_clusters(checkpoint_dir)",
    "run_stream_job(available_now)",
    "budget_then_curate(ttl_ms)",
    "cosine_topk(query_vec_id)",
    "lsh_bucketed_ann(query_vec_id)",
    "lsh_bucketed_ann(k)",
    "ivf_topk(k)",
    "ivf_topk(n_centroids)",
    "ivf_topk(nprobe)",
    "knn_join(n_centroids)",
    "lm_filter(model_df)",
}


def _engine_defaults() -> dict[str, int | None]:
    """``"fn(param)"`` → positional index (None for keyword-only) of every
    defaulted parameter of a top-level engine function."""
    out = {}
    for path in sorted((ROOT / "cpp_paddle_ocr_spark").rglob("*.py")):
        for fn in _tree(path).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            for i, arg in enumerate(pos[first:], first):
                out[f"{fn.name}({arg.arg})"] = i
            for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    out[f"{fn.name}({arg.arg})"] = None
    return out


def _set_params() -> tuple[set[str], dict[str, int], set[str]]:
    """Over every call in the engine, jobs, scripts, benchmarks and tests:
    the ``"fn(param)"`` names passed by keyword, the most positional
    arguments passed per function name (unbounded through ``*args``), and
    the function names called with ``**kwargs``."""
    files = [
        *(ROOT / "cpp_paddle_ocr_spark").rglob("*.py"),
        *(ROOT / "jobs").rglob("*.py"),
        *(ROOT / "scripts").rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        *(ROOT / "tests").rglob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    by_kw, by_pos, by_star = set(), {}, set()
    for path in files:
        for call in ast.walk(_tree(path)):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            if name is None:
                continue
            n = len(call.args)
            if any(isinstance(a, ast.Starred) for a in call.args):
                n = 1 << 30
            by_pos[name] = max(by_pos.get(name, 0), n)
            for kw in call.keywords:
                if kw.arg is None:
                    by_star.add(name)
                else:
                    by_kw.add(f"{name}({kw.arg})")
    return by_kw, by_pos, by_star


def test_every_engine_default_is_set_somewhere():
    # a default that no caller ever sets is a second home for a tuning
    # constant: the operator could run with a value its oracle never checks
    by_kw, by_pos, by_star = _set_params()
    unset = set()
    for key, index in _engine_defaults().items():
        name = key.split("(")[0]
        if key in by_kw or name in by_star:
            continue
        if index is not None and by_pos.get(name, 0) > index:
            continue
        unset.add(key)
    assert unset <= KEPT, f"defaults nothing sets: {sorted(unset - KEPT)}"
    stale = KEPT - unset
    assert not stale, f"KEPT names no unset default: {sorted(stale)}"
