"""Every function the numpy tiers hand to Spark loads without the package.

cloudpickle ships a module-level function by reference, so a task would
need ``triangle_counting_spark`` importable; a closure it ships by value.
Each operator's ``mapInPandas`` / ``applyInArrow`` function is pickled as
it is handed to Spark and loaded again in an isolated interpreter
(``python -I``, which cannot import the package).
"""

from __future__ import annotations

import subprocess
import sys

from pyspark import cloudpickle
from pyspark.sql.pandas.group_ops import PandasCogroupedOps

from tests.conftest import TINY, make_edges

_LOAD = """
import pickle, sys
import pyspark.core.broadcast as b

class _Registered(dict):
    # a worker has every broadcast of its job registered
    def __contains__(self, key):
        return True

    def __getitem__(self, key):
        return None

b._broadcastRegistry = _Registered()
try:
    import triangle_counting_spark  # noqa: F401
except ModuleNotFoundError:
    pass
else:
    sys.exit("the package is importable here")
with open(sys.argv[1], "rb") as f:
    blobs = pickle.load(f)
for name, blob in blobs:
    try:
        pickle.loads(blob)
    except Exception as exc:
        print(name, type(exc).__name__, exc)
        sys.exit(1)
print("loaded", len(blobs))
"""


def _capture(monkeypatch, blobs: list, owner, attr: str, label: str):
    orig = getattr(owner, attr)

    def wrapper(self, func, *a, **kw):
        blobs.append((f"{label}:{func.__qualname__}", cloudpickle.dumps(func)))
        return orig(self, func, *a, **kw)

    monkeypatch.setattr(owner, attr, wrapper)


def test_kernels_and_rounds_load_without_the_package(spark, monkeypatch, tmp_path):
    import pickle

    from triangle_counting_spark.operators.components import connected_components_blocked
    from triangle_counting_spark.operators.labelprop import label_propagation_blocked
    from triangle_counting_spark.operators.pagerank import pagerank_blocked
    from triangle_counting_spark.operators.triangles import (
        four_clique_count,
        four_cycle_count,
        triangle_count,
        triangle_count_delta,
    )

    blobs: list[tuple[str, bytes]] = []
    _capture(monkeypatch, blobs, type(spark.range(1)), "mapInPandas", "mapInPandas")
    _capture(monkeypatch, blobs, PandasCogroupedOps, "applyInArrow", "applyInArrow")
    e = make_edges(spark, TINY["K5"][0])
    calls = {
        "bcast": lambda: triangle_count(e, "bcast"),
        "level": lambda: triangle_count(e, "level"),
        "part": lambda: triangle_count(e, "part"),
        "four_cycles": lambda: four_cycle_count(e),
        "four_cliques": lambda: four_clique_count(e),
        "delta": lambda: triangle_count_delta(e, make_edges(spark, [(0, 7), (1, 7)])),
        # one block runs its rounds in the driver; two take the task path
        "pagerank": lambda: pagerank_blocked(e, max_iter=1, n_blocks=2).state,
        "components": lambda: connected_components_blocked(
            e, max_iter=1, n_blocks=2
        ).state,
        "label_propagation": lambda: label_propagation_blocked(
            e, max_iter=1, n_blocks=2
        ).state,
    }
    for name, call in calls.items():
        before = len(blobs)
        call().collect()
        assert len(blobs) > before, f"{name} handed Spark no function"
    path = tmp_path / "blobs.pkl"
    with open(path, "wb") as f:
        pickle.dump(blobs, f)
    out = subprocess.run(
        [sys.executable, "-I", "-c", _LOAD, str(path)],
        capture_output=True, text=True, cwd=tmp_path, timeout=120,
    )
    assert out.returncode == 0, out.stdout + out.stderr
    assert out.stdout.strip() == f"loaded {len(blobs)}"


def test_module_level_function_needs_the_package(tmp_path):
    """Control: a module-level function of the package does not load in
    the isolated interpreter, so the test above can tell the difference."""
    import pickle

    from triangle_counting_spark.plans.blocked import compact_ids

    path = tmp_path / "blobs.pkl"
    with open(path, "wb") as f:
        pickle.dump([("compact_ids", cloudpickle.dumps(compact_ids))], f)
    out = subprocess.run(
        [sys.executable, "-I", "-c", _LOAD, str(path)],
        capture_output=True, text=True, cwd=tmp_path, timeout=120,
    )
    assert out.returncode == 1
    assert "ModuleNotFoundError" in out.stdout
