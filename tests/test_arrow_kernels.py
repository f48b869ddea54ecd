"""Arrow kernels must run on a Python worker that cannot import this
package.

A vanilla Spark session whose driver finds the package only through its
own ``sys.path`` starts its Python workers without it. cloudpickle ships
a kernel's closure by value, but a module-level function it calls by
reference, so the worker would import the package and fail. Each kernel
is captured from a real plan, pickled, and then unpickled and called in a
fresh interpreter whose cwd is a tmp dir and whose environment has no
``PYTHONPATH``."""

import os
import subprocess
import sys

from pyspark import cloudpickle

from audience_manager_platform_spark.operators import corpus, similarity

_RUN = """
import pickle, sys
import pandas as pd
fn = pickle.load(sys.stdin.buffer)
batch = pd.read_json(sys.argv[1], orient="split")
print(sum(len(out) for out in fn(iter([batch]))))
"""


def _captured_kernels(monkeypatch, df_cls, build):
    kernels = []
    original = df_cls.mapInPandas

    def recording(self, func, schema, *args, **kwargs):
        kernels.append(func)
        return original(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(df_cls, "mapInPandas", recording)
    build()
    monkeypatch.undo()
    return kernels


def _run_outside_repo(kernel, batch, tmp_path) -> str:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _RUN, batch.to_json(orient="split")],
        input=cloudpickle.dumps(kernel),
        capture_output=True,
        cwd=tmp_path,
        env=env,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    return proc.stdout.decode().strip()


def test_two_level_assign_kernel_runs_without_the_package(spark, monkeypatch, tmp_path):
    import pandas as pd

    base = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, v array<double>"
    )
    model1 = [(0, [1.0, 0.0])]
    model2 = {0: [(0, [1.0, 0.0]), (1, [0.0, 1.0])]}
    (kernel,) = _captured_kernels(
        monkeypatch,
        type(base),
        lambda: similarity.assign_cells_two_level(base, model1, model2),
    )
    batch = pd.DataFrame({"vec_id": [1, 2], "v": [[1.0, 0.0], [0.0, 1.0]]})
    assert _run_outside_repo(kernel, batch, tmp_path) == "2"


def test_bloom_build_kernel_runs_without_the_package(spark, monkeypatch, tmp_path):
    import pandas as pd

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, "alpha beta gamma")], "doc_id long, text string")
    kernels = _captured_kernels(
        monkeypatch, type(docs), lambda: corpus.bloom_decontaminate(docs, bench)
    )
    # the first kernel builds the bitmap; the second reads a broadcast,
    # which only a live SparkContext can unpickle, and calls the same
    # position function
    build = kernels[0]
    batch = pd.DataFrame({"gram": ["alpha beta gamma"]})
    assert _run_outside_repo(build, batch, tmp_path) == "1"
