"""Environment-skew canaries — tiny diagnostic queries that make a
local-vs-driver numeric divergence diagnosable from the correctness
artifact alone.

Motivation (r4/r5): the ADC product-quantization trio hashed red on the
driver for two rounds while passing the identical local gate replica —
the divergence was between ENVIRONMENTS (engine ``round()`` builds,
numpy versions), not between Spark and DuckDB as run locally. These
probes decompose that failure mode into orthogonal single-class checks,
so the green/red PATTERN of four rows in ``CORRECTNESS_r{N}.json``
pinpoints the class without any access to the driver host:

- ``env_probe_floor_micro`` red   => the exact-integer contract itself
  broke (should be impossible: floor/multiply/add are exact IEEE ops) —
  suspect harness-level corruption, not numerics;
- ``env_probe_round_half`` red    => the engines' ``round(double, 6)``
  implementations disagree on this host (the r4 class) — any query
  still ranking or displaying via ``round()`` is suspect;
- ``env_probe_arrow_floor`` red   => the Python WORKER environment
  (numpy/Arrow path used by pandas UDFs) disagrees with the driver
  process — version-skew in the executor python;
- ``env_probe_versions`` red      => the harness imports the entry
  module and runs the Spark workers in DIFFERENT python environments
  (component list + version strings are captured at import time on the
  driver and re-read at run time on a worker).

The probe vector covers exact .5 boundaries (dyadic doubles whose
``x * 1e6`` is exactly representable ending in .5), the measured r4
``round()`` repro magnitudes (~1.8e12 after scaling), and benign
mid-grid values as controls. Local reference values are committed in
``ENV_CANARY.md`` so a red driver row can be diffed against the
builder-side truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# (case_name, value). Names sort in display order; values are exact
# double literals (repr round-trips bit-exactly into both engines).
PROBE_VECTOR: list[tuple[str, float]] = [
    ("c01_zero", 0.0),
    ("c02_half_ulp_small", 0.0000005),  # x*1e6 == 0.5 exactly
    ("c03_one_and_half", 0.0000015),  # x*1e6 == 1.5 exactly
    ("c04_dyadic_half", 7.5e-7),  # dyadic-ish: lands on .5 grid
    ("c05_pow2_frac", 3.0517578125e-5),  # 2^-15: exact binary fraction
    ("c06_near_one_up", 0.9999995),
    ("c07_above_one", 1.0000005),
    ("c08_r4_repro_pos", 1822182.1023874998),  # x*1e6 ~ 1.82e12 (.4998)
    ("c09_r4_repro_neg", -1822182.1023874998),
    ("c10_mid_grid", 123.4567891),  # control: far from any boundary
    ("c11_third", 0.3333333333333333),
    ("c12_two_thirds", 0.6666666666666666),
]


def _probe_df(spark: SparkSession) -> DataFrame:
    from .partitioning import local_table

    return local_table(spark, PROBE_VECTOR, "case_name string, x double")


def _values_sql() -> str:
    # CAST('<repr>' AS DOUBLE), NOT a bare decimal literal: DuckDB
    # parses `1822182.1023874998::DOUBLE` through a DECIMAL
    # intermediate whose int128 -> double scaling is not correctly
    # rounded once the digit string exceeds 2^53 (measured: one ulp
    # off on the c08 value, flipping its floor-micro). The varchar
    # cast goes through strtod — correctly rounded, bit-identical to
    # Python's float() and Spark's literal parse.
    rows = ", ".join(
        f"('{name}', CAST('{val!r}' AS DOUBLE))"
        for name, val in PROBE_VECTOR
    )
    return f"(VALUES {rows}) t(case_name, x)"


def probe_floor_micro(spark: SparkSession) -> DataFrame:
    """floor(x*1e6 + 0.5) as bigint over the probe vector — the exact
    integer contract every quantized rank key in the engine rides.
    Always-green by construction; red means the harness itself broke."""
    return _probe_df(spark).select(
        "case_name",
        F.expr("floor(x * 1e6 + 0.5d)").alias("micro"),
    )


def probe_floor_micro_sql() -> str:
    return f"""
        SELECT case_name,
               CAST(floor(x * 1e6 + 0.5) AS BIGINT) AS micro
        FROM {_values_sql()}
    """


def probe_round_half(spark: SparkSession) -> DataFrame:
    """round(x, 6) on both engines over the same doubles — the r4
    divergence class. A red row here (with floor_micro green) proves
    the driver host's engine round() builds disagree, indicting any
    query that still rounds in a rank/display path."""
    return _probe_df(spark).select(
        "case_name", F.round(F.col("x"), 6).alias("r6")
    )


def probe_round_half_sql() -> str:
    return f"""
        SELECT case_name, ROUND(x, 6) AS r6
        FROM {_values_sql()}
    """


def probe_arrow_floor(spark: SparkSession) -> DataFrame:
    """The same floor-micro quantization computed by WORKER-side numpy
    over the Arrow batch path (the kernel shape every pandas-UDF
    operator uses). Red here with the engine probes green isolates
    executor-python version skew."""
    cases = PROBE_VECTOR

    def gen(batches):
        import numpy as np
        import pandas as pd

        for _ in batches:  # drain; emit exactly once per partition
            pass
        names = [n for n, _ in cases]
        vals = np.array([v for _, v in cases], dtype=np.float64)
        micro = np.floor(vals * 1e6 + 0.5).astype(np.int64)
        yield pd.DataFrame({"case_name": names, "micro": micro})

    return spark.range(1).coalesce(1).mapInPandas(
        gen, "case_name string, micro long"
    )


def probe_arrow_floor_sql() -> str:
    return probe_floor_micro_sql()


def _import_time_versions() -> list[tuple[str, str]]:
    import numpy
    import pandas
    import pyarrow

    return [
        ("numpy", numpy.__version__),
        ("pandas", pandas.__version__),
        ("pyarrow", pyarrow.__version__),
    ]


_DRIVER_VERSIONS = _import_time_versions()


def probe_versions(spark: SparkSession) -> DataFrame:
    """Worker-side component versions (read inside mapInPandas at run
    time) vs the import-time driver versions baked into the oracle —
    red means the harness runs entry import and Spark workers in
    different python environments."""

    def gen(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa

        for _ in batches:  # drain; emit exactly once per partition
            pass
        yield pd.DataFrame(
            {
                "component": ["numpy", "pandas", "pyarrow"],
                "version": [
                    np.__version__,
                    pd.__version__,
                    pa.__version__,
                ],
            }
        )

    return spark.range(1).coalesce(1).mapInPandas(
        gen, "component string, version string"
    )


def probe_versions_sql() -> str:
    rows = ", ".join(
        f"('{c}', '{v}')" for c, v in _DRIVER_VERSIONS
    )
    return f"SELECT * FROM (VALUES {rows}) t(component, version)"
