"""Declarative data-quality expectations (the deequ/Great-Expectations
capability a warehouse runs before publishing a table).

One constraint list compiles to ONE aggregate over the table — a single
scan with map-side partial aggregation regardless of how many
expectations are attached — and the per-constraint verdict rows are
produced Spark-side with ``stack`` (no driver collect). The reference's
only validation is the rule-DSL identifier guard (SURVEY.md §2.2 P10);
table-level expectations are part of the warehouse extension mandated by
BASELINE.json.

Supported constraints:

- ``("not_null", col)``          — observed = null count, pass iff 0
- ``("unique", col)``            — observed = rows - distinct non-null
  values, pass iff 0 (NULL rows count toward the deficit; pair with
  ``not_null`` to tell the two failure modes apart)
- ``("range", col, lo, hi)``     — observed = count outside [lo, hi]
- ``("accepted_values", col, values)`` — observed = count outside set
- ``("min_rows", n)``            — observed = row count, pass iff >= n

Scale note: ``unique`` uses an exact COUNT(DISTINCT); several distinct
constraints in one list make Catalyst plan an Expand (one duplicate of
the scan's rows per distinct column) — the standard trade for exact
multi-distinct. For monitoring at 100 TB you'd swap it for
``approx_count_distinct`` per the HLL pattern already gated in
``approx_distinct_users``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cents, with_midpoint
from .partitioning import local_table


def _agg_and_verdicts(constraints: Sequence[tuple]) -> tuple[list, list]:
    """Compile constraints into (aggregate expressions, stack rows).
    Each stack row is (constraint_kind, col_name, observed, passed) referencing
    the aggregate's output columns."""
    aggs: list = [F.count("*").alias("_rows")]
    rows: list[tuple[str, str, str, str]] = []
    for i, c in enumerate(constraints):
        kind = c[0]
        slot = f"_m{i}"
        if kind == "not_null":
            _, col = c
            aggs.append(
                F.coalesce(
                    F.sum(F.col(col).isNull().cast("long")), F.lit(0)
                ).alias(slot)
            )
            rows.append((kind, col, slot, f"{slot} = 0"))
        elif kind == "unique":
            _, col = c
            aggs.append(F.count_distinct(F.col(col)).alias(slot))
            rows.append((kind, col, f"_rows - {slot}", f"_rows - {slot} = 0"))
        elif kind == "range":
            _, col, lo, hi = c
            aggs.append(
                F.coalesce(
                    F.sum(
                        (
                            F.col(col).isNull()
                            | (F.col(col) < lo)
                            | (F.col(col) > hi)
                        ).cast("long")
                    ),
                    F.lit(0),
                ).alias(slot)
            )
            rows.append((kind, col, slot, f"{slot} = 0"))
        elif kind == "accepted_values":
            _, col, values = c
            # NULL is never accepted: isin(NULL) yields NULL, which would
            # vanish from the sum — coalesce it to a violation
            aggs.append(
                F.coalesce(
                    F.sum(
                        F.coalesce(
                            ~F.col(col).isin(list(values)), F.lit(True)
                        ).cast("long")
                    ),
                    F.lit(0),
                ).alias(slot)
            )
            rows.append((kind, col, slot, f"{slot} = 0"))
        elif kind == "min_rows":
            _, n = c
            rows.append((kind, "*", "_rows", f"_rows >= {n}"))
        else:
            raise ValueError(f"unknown constraint kind: {kind}")
    return aggs, rows


def validate_table(df: DataFrame, constraints: Sequence[tuple]) -> DataFrame:
    """Evaluate every expectation in one scan; returns one row per
    constraint: (constraint_kind, col_name, observed, passed)."""
    aggs, rows = _agg_and_verdicts(constraints)
    summary = df.agg(*aggs)
    stacked = ", ".join(
        f"'{kind}', '{col}', cast({obs} as bigint), ({passed})"
        for kind, col, obs, passed in rows
    )
    return summary.selectExpr(
        f"stack({len(rows)}, {stacked}) as (constraint_kind, col_name, observed, passed)"
    )


def validate_table_sql(src: str, constraints: Sequence[tuple]) -> str:
    """DuckDB twin: the same single-aggregate + verdict-row shape."""
    aggs = ["COUNT(*) AS _rows"]
    rows: list[str] = []
    for i, c in enumerate(constraints):
        kind = c[0]
        slot = f"_m{i}"
        if kind == "not_null":
            _, col = c
            aggs.append(
                f"COALESCE(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END), 0) AS {slot}"
            )
            rows.append(
                f"SELECT 'not_null' AS constraint_kind, '{col}' AS col_name, "
                f"CAST({slot} AS BIGINT) AS observed, {slot} = 0 AS passed FROM s"
            )
        elif kind == "unique":
            _, col = c
            aggs.append(f"COUNT(DISTINCT {col}) AS {slot}")
            rows.append(
                f"SELECT 'unique', '{col}', CAST(_rows - {slot} AS BIGINT), "
                f"_rows - {slot} = 0 FROM s"
            )
        elif kind == "range":
            _, col, lo, hi = c
            aggs.append(
                f"COALESCE(SUM(CASE WHEN {col} IS NULL OR {col} < {lo} "
                f"OR {col} > {hi} THEN 1 ELSE 0 END), 0) AS {slot}"
            )
            rows.append(
                f"SELECT 'range', '{col}', CAST({slot} AS BIGINT), {slot} = 0 FROM s"
            )
        elif kind == "accepted_values":
            _, col, values = c
            # numerics render unquoted so the DuckDB comparison stays
            # typed, matching the Spark side's typed ``isin``
            inlist = ", ".join(
                str(v) if isinstance(v, (int, float)) and not isinstance(v, bool)
                else f"'{v}'"
                for v in values
            )
            aggs.append(
                f"COALESCE(SUM(CASE WHEN {col} NOT IN ({inlist}) OR {col} IS NULL "
                f"THEN 1 ELSE 0 END), 0) AS {slot}"
            )
            rows.append(
                f"SELECT 'accepted_values', '{col}', CAST({slot} AS BIGINT), "
                f"{slot} = 0 FROM s"
            )
        elif kind == "min_rows":
            _, n = c
            rows.append(
                f"SELECT 'min_rows', '*', CAST(_rows AS BIGINT), _rows >= {n} FROM s"
            )
        else:
            raise ValueError(f"unknown constraint kind: {kind}")
    union = "\n          UNION ALL ".join(rows)
    return f"""
        WITH s AS (SELECT {", ".join(aggs)} FROM {src})
        {union}
    """


# ------------------------------------------------------- table profiling
def table_profile(df: DataFrame, columns: Sequence[tuple[str, str]]) -> DataFrame:
    """ANALYZE-style column profile: per column, row count, null count,
    exact distinct count, and min/max (numeric columns in *_num, string
    columns in *_str — never a cross-engine float-to-string render).

    ``columns`` is a list of (name, kind) with kind in {"num", "str"};
    numeric columns are cast to double for the min/max so int and double
    columns share one schema.

    One aggregate job regardless of column count (every stat is a column
    of the same agg — a single scan), then an explode to rows. Exact NDV
    is the oracle-checkable choice; the approx_count_distinct variant for
    100 TB profiling is the ``approx_distinct_users`` pattern
    (operators/skew.py) with no shape change."""
    aggs = [F.count(F.lit(1)).alias("_n_rows")]
    for name, kind in columns:
        c = F.col(name)
        aggs.append(F.count(c).alias(f"_nn_{name}"))
        aggs.append(F.countDistinct(c).alias(f"_ndv_{name}"))
        if kind == "num":
            aggs.append(F.min(c.cast("double")).alias(f"_min_{name}"))
            aggs.append(F.max(c.cast("double")).alias(f"_max_{name}"))
        else:
            aggs.append(F.min(c).alias(f"_min_{name}"))
            aggs.append(F.max(c).alias(f"_max_{name}"))
    one = df.agg(*aggs)
    structs = []
    for name, kind in columns:
        is_num = kind == "num"
        structs.append(
            F.struct(
                F.lit(name).alias("col_name"),
                (F.col("_n_rows") - F.col(f"_nn_{name}")).alias("n_nulls"),
                F.col(f"_ndv_{name}").alias("ndv"),
                (
                    F.col(f"_min_{name}")
                    if is_num
                    else F.lit(None).cast("double")
                ).alias("min_num"),
                (
                    F.col(f"_max_{name}")
                    if is_num
                    else F.lit(None).cast("double")
                ).alias("max_num"),
                (
                    F.lit(None).cast("string")
                    if is_num
                    else F.col(f"_min_{name}")
                ).alias("min_str"),
                (
                    F.lit(None).cast("string")
                    if is_num
                    else F.col(f"_max_{name}")
                ).alias("max_str"),
            )
        )
    return one.select(F.explode(F.array(*structs)).alias("s")).select(
        "s.col_name", "s.n_nulls", "s.ndv", "s.min_num", "s.max_num",
        "s.min_str", "s.max_str",
    )


def table_profile_sql(src: str, columns: Sequence[tuple[str, str]]) -> str:
    parts = []
    for name, kind in columns:
        if kind == "num":
            mn = f"CAST(MIN(CAST({name} AS DOUBLE)) AS DOUBLE)"
            mx = f"CAST(MAX(CAST({name} AS DOUBLE)) AS DOUBLE)"
            ms, xs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
            parts.append(
                f"SELECT '{name}' AS col_name,"
                f" COUNT(*) - COUNT({name}) AS n_nulls,"
                f" COUNT(DISTINCT {name}) AS ndv,"
                f" {mn} AS min_num, {mx} AS max_num,"
                f" {ms} AS min_str, {xs} AS max_str FROM {src}"
            )
        else:
            parts.append(
                f"SELECT '{name}' AS col_name,"
                f" COUNT(*) - COUNT({name}) AS n_nulls,"
                f" COUNT(DISTINCT {name}) AS ndv,"
                f" CAST(NULL AS DOUBLE) AS min_num,"
                f" CAST(NULL AS DOUBLE) AS max_num,"
                f" MIN({name}) AS min_str, MAX({name}) AS max_str FROM {src}"
            )
    return " UNION ALL ".join(parts)


# ------------------------------------------------------ k-anonymity audit
def k_anonymity_audit(
    df: DataFrame, quasi_identifiers: Sequence[str], k: int = 5
) -> DataFrame:
    """Privacy-governance audit before releasing a user-level extract:
    group the table by its quasi-identifier columns (the attributes an
    adversary could link on) and report every equivalence class with its
    size and whether it violates k-anonymity (size < ``k`` means an
    individual in that class is re-identifiable among fewer than k
    peers). The audience-platform governance step that gates segment
    exports — the same class sizes also feed suppression/generalization
    decisions (drop or coarsen the violating classes).

    ONE map-side-combinable aggregate over the release candidate; output
    is |equivalence classes| rows, which for release-worthy
    quasi-identifier sets is far below the row count. Columns are passed
    through as-is, so callers band continuous attributes FIRST (a raw
    float like account balance would make every class size 1 — banding
    IS the generalization step)."""
    qi = [F.col(c) for c in quasi_identifiers]
    return (
        df.groupBy(*qi)
        .agg(F.count("*").cast("long").alias("class_size"))
        .withColumn("at_risk", F.col("class_size") < k)
    )


def k_anonymity_audit_sql(
    src: str, quasi_identifiers: Sequence[str], k: int = 5
) -> str:
    cols = ", ".join(quasi_identifiers)
    return f"""
        SELECT {cols},
               CAST(COUNT(*) AS BIGINT) AS class_size,
               COUNT(*) < {k} AS at_risk
        FROM {src} GROUP BY {cols}
    """


def l_diversity_audit(
    df: DataFrame,
    quasi_identifiers: Sequence[str],
    sensitive: str,
    k: int = 5,
    ell: int = 2,
) -> DataFrame:
    """l-diversity extension of :func:`k_anonymity_audit` — the audit
    k-anonymity alone cannot pass: a class of 50 users is still a
    disclosure if all 50 share the same sensitive value (the homogeneity
    attack). Per quasi-identifier equivalence class: the class size, the
    number of DISTINCT sensitive values, the largest single value's
    share, and the release verdicts (``k_risk`` = too small a crowd,
    ``l_risk`` = too homogeneous a crowd).

    Still ONE map-side-combinable aggregate pass: distinct-sensitive
    counts come from a (qi..., sensitive) pre-aggregate rolled up to the
    class — two keyed reduces, both combinable, output |classes| rows."""
    qi = list(quasi_identifiers)
    per_value = df.groupBy(*qi, sensitive).agg(
        F.count("*").alias("_vn")
    )
    return (
        per_value.groupBy(*qi)
        .agg(
            F.sum("_vn").cast("long").alias("class_size"),
            F.count("*").cast("long").alias("distinct_sensitive"),
            F.max("_vn").cast("long").alias("top_value_n"),
        )
        .select(
            *qi,
            "class_size",
            "distinct_sensitive",
            F.round(
                F.col("top_value_n") / F.col("class_size").cast("double"), 6
            ).alias("top_value_share"),
            (F.col("class_size") < k).alias("k_risk"),
            (F.col("distinct_sensitive") < ell).alias("l_risk"),
        )
    )


def l_diversity_audit_sql(
    src: str,
    quasi_identifiers: Sequence[str],
    sensitive: str,
    k: int = 5,
    ell: int = 2,
) -> str:
    cols = ", ".join(quasi_identifiers)
    return f"""
        WITH per_value AS (
          SELECT {cols}, {sensitive}, COUNT(*) AS _vn
          FROM {src} GROUP BY {cols}, {sensitive}
        )
        SELECT {cols},
               CAST(SUM(_vn) AS BIGINT) AS class_size,
               CAST(COUNT(*) AS BIGINT) AS distinct_sensitive,
               ROUND(MAX(_vn) / CAST(SUM(_vn) AS DOUBLE), 6)
                 AS top_value_share,
               SUM(_vn) < {k} AS k_risk,
               COUNT(*) < {ell} AS l_risk
        FROM per_value GROUP BY {cols}
    """


# ------------------------------------------------------- profile drift
def profile_drift(
    old: DataFrame, new: DataFrame, columns: Sequence[tuple[str, str]]
) -> DataFrame:
    """Schema/statistics drift report between two snapshots of a table:
    per column, the old vs new null count and NDV plus their deltas —
    the check a nightly warehouse job runs before promoting a snapshot
    (an NDV collapse or a null-rate spike is the classic upstream-broke
    signal that value-level diffs miss when the table is huge).

    Two single-scan profile aggregates (one per snapshot; each is ONE
    job regardless of column count) joined on the |columns|-row output —
    driver-scale after the scans no matter the table size."""
    po = table_profile(old, columns).select(
        "col_name",
        F.col("n_nulls").alias("old_nulls"),
        F.col("ndv").alias("old_ndv"),
    )
    pn = table_profile(new, columns).select(
        "col_name",
        F.col("n_nulls").alias("new_nulls"),
        F.col("ndv").alias("new_ndv"),
    )
    return po.join(pn, "col_name").select(
        "col_name",
        "old_nulls",
        "new_nulls",
        (F.col("new_nulls") - F.col("old_nulls")).alias("nulls_delta"),
        "old_ndv",
        "new_ndv",
        (F.col("new_ndv") - F.col("old_ndv")).alias("ndv_delta"),
    )


def profile_drift_sql(
    old_src: str, new_src: str, columns: Sequence[tuple[str, str]]
) -> str:
    po = table_profile_sql(old_src, columns)
    pn = table_profile_sql(new_src, columns)
    return f"""
        WITH po AS (
          SELECT col_name, n_nulls AS old_nulls, ndv AS old_ndv
          FROM ({po}) o
        ),
        pn AS (
          SELECT col_name, n_nulls AS new_nulls, ndv AS new_ndv
          FROM ({pn}) n
        )
        SELECT col_name, old_nulls, new_nulls,
               CAST(new_nulls - old_nulls AS BIGINT) AS nulls_delta,
               old_ndv, new_ndv,
               CAST(new_ndv - old_ndv AS BIGINT) AS ndv_delta
        FROM po JOIN pn USING (col_name)
    """


# -------------------------------------------- differential-privacy release
DP_EPSILON = 1.0
DP_SALT = "dp-v1"


def dp_noisy_counts(
    df: DataFrame,
    group_col: str = "event_type",
    epsilon: float = DP_EPSILON,
    salt: str = DP_SALT,
) -> DataFrame:
    """ε-differentially-private count release (Laplace mechanism,
    Dwork et al. 2006): per group, COUNT(*) plus Laplace(1/ε) noise —
    count queries have sensitivity 1, so scale b = 1/ε. The governance
    companion to :func:`k_anonymity_audit`: k-anonymity gates row-level
    extracts, DP noise gates AGGREGATE releases.

    Noise is SEEDED, not sampled: u = (md5-60bit(group ∥ salt) mod 1e6
    + 0.5)/1e6 ∈ (0,1), folded through the Laplace inverse CDF
    −b·sign(u−½)·ln(1−2|u−½|). That makes every release bit-reproducible
    (replayable pipelines, cross-engine oracle) with the documented
    trade: reproducibility with a KNOWN salt is not a formal DP
    guarantee — an adversary who learns the salt can subtract the
    noise. Production keeps the salt secret and rotates it per release
    (fresh salt ≡ fresh randomness); the mechanism and its calibration
    are unchanged.

    One map-side-combinable aggregate; the noise is a per-ROW expression
    over the |groups|-row result. Output: (group, noisy_count, epsilon)
    — the true count is deliberately NOT released."""
    from ..functions import HASH60_SPARK_SQL

    h = HASH60_SPARK_SQL.format(
        x=f"concat(cast({group_col} as string), '\\u0001', '{salt}')"
    )
    u = f"((({h}) % 1000000) + 0.5) / 1e6"
    v = f"({u} - 0.5)"
    noise = (
        f"-(1.0/{epsilon!r}) * sign({v}) * ln(1.0 - 2.0 * abs({v}))"
    )
    return (
        df.groupBy(group_col)
        .agg(F.count("*").alias("_n"))
        .select(
            group_col,
            F.round(F.expr(f"_n + ({noise})"), 6).alias("noisy_count"),
            F.lit(float(epsilon)).alias("epsilon"),
        )
    )


def dp_noisy_counts_sql(
    src: str = "events",
    group_col: str = "event_type",
    epsilon: float = DP_EPSILON,
    salt: str = DP_SALT,
) -> str:
    from ..functions import HASH60_DUCK_SQL

    h = HASH60_DUCK_SQL.format(
        x=f"CAST({group_col} AS VARCHAR) || chr(1) || '{salt}'"
    )
    u = f"((({h}) % 1000000) + 0.5) / 1e6"
    v = f"({u} - 0.5)"
    noise = f"-(1.0/{epsilon!r}) * sign({v}) * ln(1.0 - 2.0 * abs({v}))"
    return f"""
        WITH counts AS (
          SELECT {group_col}, COUNT(*) AS _n FROM {src} GROUP BY {group_col}
        )
        SELECT {group_col},
               ROUND(_n + ({noise}), 6) AS noisy_count,
               CAST({epsilon!r} AS DOUBLE) AS epsilon
        FROM counts
    """


# ----------------------------------------------- referential integrity
def fk_orphan_audit(rels) -> "DataFrame":
    """Referential-integrity audit over a set of FK relationships —
    ``rels`` is a list of ``(name, child_df, child_key, parent_df,
    parent_key)``. One row per relationship: child row count, NULL
    foreign keys (legal, counted separately), orphan rows and distinct
    orphan keys (children pointing at a parent that does not exist —
    the broken-pipeline signal a warehouse checks before promoting a
    snapshot).

    Shape at scale: per relationship one narrow child projection
    (key column only — the scan prunes everything else), one distinct
    on the parent key, one ANTI join keyed on the FK (Spark broadcasts
    the deduped parent side when it is dimension-sized), and two 1-row
    aggregates; the report is |relationships| rows."""
    outs = []
    for name, child, ck, parent, pk in rels:
        ckeys = child.select(F.col(ck).alias("k"))
        totals = ckeys.agg(
            F.count("*").alias("child_rows"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias(
                "null_keys"
            ),
        )
        orphans = (
            ckeys.filter(F.col("k").isNotNull())
            .join(parent.select(F.col(pk).alias("k")).distinct(), "k", "left_anti")
            .agg(
                F.count("*").alias("orphan_rows"),
                F.countDistinct("k").alias("orphan_keys"),
            )
        )
        outs.append(
            totals.crossJoin(orphans).select(
                F.lit(name).alias("relationship"),
                F.col("child_rows").cast("long").alias("child_rows"),
                F.col("null_keys").cast("long").alias("null_keys"),
                F.col("orphan_rows").cast("long").alias("orphan_rows"),
                F.col("orphan_keys").cast("long").alias("orphan_keys"),
                (F.col("orphan_rows") == 0).alias("intact"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def fk_orphan_audit_sql(rels) -> str:
    """SQL twin; ``rels`` is ``(name, child_table, child_key,
    parent_table, parent_key)``."""
    parts = []
    for name, child, ck, parent, pk in rels:
        parts.append(f"""
        SELECT '{name}' AS relationship,
               CAST((SELECT COUNT(*) FROM {child}) AS BIGINT) AS child_rows,
               CAST((SELECT COUNT(*) FROM {child} WHERE {ck} IS NULL)
                 AS BIGINT) AS null_keys,
               CAST(COUNT(*) AS BIGINT) AS orphan_rows,
               CAST(COUNT(DISTINCT c.{ck}) AS BIGINT) AS orphan_keys,
               COUNT(*) = 0 AS intact
        FROM {child} c
        WHERE c.{ck} IS NOT NULL
          AND c.{ck} NOT IN (SELECT {pk} FROM {parent} WHERE {pk} IS NOT NULL)
        """)
    return " UNION ALL ".join(parts)


# ------------------------------------------------------- t-closeness
def t_closeness_audit(
    df: DataFrame,
    quasi_identifiers: Sequence[str],
    sensitive: str,
    t: float = 0.35,
    k: int = 5,
) -> DataFrame:
    """t-closeness — the third rung of the release-audit ladder after
    :func:`k_anonymity_audit` and :func:`l_diversity_audit`: a class can
    be large (k ok) and varied (l ok) yet still leak if its sensitive
    distribution DIFFERS sharply from the table-wide one (the skewness
    attack — "this class is 90% churned vs 20% overall"). Per
    equivalence class we compute the total-variation distance between
    the class's sensitive-value distribution and the global one
    (TVD = ½ Σ_v |p_class(v) − p_global(v)|, the EMD under uniform
    ground distance — the standard form for categorical sensitive
    attributes) and flag classes with ``t_closeness > t``.

    Determinism contract: the distance is assembled entirely from exact
    integer counts — the numerator Σ_v |cnt_class,v · N − cnt_global,v
    · n_class| is bigint arithmetic, divided ONCE by (2 · n_class · N)
    and 6dp-rounded, so both engines see the identical double. Classes
    missing a global value contribute that value's full global mass
    (the LEFT join + COALESCE 0), which a naive inner-join formulation
    silently drops.

    Shape at scale: one (qi, sensitive) pre-aggregate, a |classes| ×
    |values| broadcast expansion (values is a tiny dimension — this is
    model-sized, never data-sized), and a |classes|-row rollup.
    """
    qi = list(quasi_identifiers)
    per_value = df.groupBy(*qi, sensitive).agg(F.count("*").alias("_vn"))
    classes = per_value.groupBy(*qi).agg(
        F.sum("_vn").cast("long").alias("class_size")
    )
    global_values = (
        df.groupBy(sensitive)
        .agg(F.count("*").cast("long").alias("_gn"))
    )
    total = df.agg(F.count("*").cast("long").alias("_N"))
    expanded = (
        classes.crossJoin(F.broadcast(global_values))
        .crossJoin(F.broadcast(total))
        .join(per_value, on=[*qi, sensitive], how="left")
        .na.fill({"_vn": 0})
    )
    num = F.abs(
        F.col("_vn").cast("long") * F.col("_N")
        - F.col("_gn") * F.col("class_size")
    )
    return (
        expanded.groupBy(*qi)
        .agg(
            F.max("class_size").alias("class_size"),
            F.round(
                F.sum(num)
                / (F.lit(2.0) * F.max("class_size") * F.max("_N")),
                6,
            ).alias("t_closeness"),
        )
        .select(
            *qi,
            "class_size",
            "t_closeness",
            (F.col("class_size") < k).alias("k_risk"),
            (F.col("t_closeness") > t).alias("t_risk"),
        )
    )


def t_closeness_audit_sql(
    src: str,
    quasi_identifiers: Sequence[str],
    sensitive: str,
    t: float = 0.35,
    k: int = 5,
) -> str:
    cols = ", ".join(quasi_identifiers)
    on = " AND ".join(
        f"pv.{c} = cl.{c}" for c in quasi_identifiers
    )
    return f"""
        WITH per_value AS (
          SELECT {cols}, {sensitive}, COUNT(*) AS _vn
          FROM {src} GROUP BY {cols}, {sensitive}
        ),
        classes AS (
          SELECT {cols}, CAST(SUM(_vn) AS BIGINT) AS class_size
          FROM per_value GROUP BY {cols}
        ),
        gv AS (
          SELECT {sensitive}, CAST(COUNT(*) AS BIGINT) AS _gn
          FROM {src} GROUP BY {sensitive}
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS _N FROM {src}),
        expanded AS (
          SELECT cl.*, gv.{sensitive}, gv._gn, tot._N,
                 CAST(COALESCE(pv._vn, 0) AS BIGINT) AS _vn
          FROM classes cl CROSS JOIN gv CROSS JOIN tot
          LEFT JOIN per_value pv
            ON {on} AND pv.{sensitive} = gv.{sensitive}
        )
        SELECT {cols}, MAX(class_size) AS class_size,
               ROUND(SUM(ABS(_vn * _N - _gn * class_size))
                     / (2.0 * MAX(class_size) * MAX(_N)), 6)
                 AS t_closeness,
               MAX(class_size) < {int(k)} AS k_risk,
               ROUND(SUM(ABS(_vn * _N - _gn * class_size))
                     / (2.0 * MAX(class_size) * MAX(_N)), 6) > {t}
                 AS t_risk
        FROM expanded GROUP BY {cols}
    """


# ------------------------------------------------------ FK fanout profile
def fk_fanout_profile(rels) -> "DataFrame":
    """Join-cardinality profile per FK relationship: parents, parents
    with at least one child, and the min/avg/max children per matched
    parent — the numbers that decide join strategy at scale (a max
    fanout of 10⁶ on one parent is the skew-join/salting signal; an avg
    near 1 says the join is safe to broadcast-build on the child side).
    Complements :func:`fk_orphan_audit` (referential integrity) with
    the CARDINALITY side of the contract.

    One child-side keyed count per relationship plus a parent distinct
    count — map-side-combinable, |parents|-row state, unioned into a
    |relationships|-row report. ``rels`` is ``(name, child_df,
    child_key, parent_df, parent_key)``."""
    out = None
    for name, child, ck, parent, pk in rels:
        per_parent = (
            child.filter(F.col(ck).isNotNull())
            .groupBy(ck)
            .agg(F.count("*").alias("_n"))
        )
        n_parents = parent.select(pk).distinct().count()
        row = per_parent.agg(
            F.lit(name).alias("relationship"),
            F.lit(n_parents).cast("long").alias("n_parents"),
            F.count("*").cast("long").alias("matched_parents"),
            F.min("_n").cast("long").alias("min_fanout"),
            F.round(
                F.sum("_n") / F.count("*").cast("double"), 6
            ).alias("avg_fanout"),
            F.max("_n").cast("long").alias("max_fanout"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def fk_fanout_profile_sql(rels) -> str:
    """SQL twin; ``rels`` is ``(name, child_table, child_key,
    parent_table, parent_key)``."""
    parts = []
    for name, child, ck, parent, pk in rels:
        parts.append(f"""
        SELECT '{name}' AS relationship,
               (SELECT CAST(COUNT(DISTINCT {pk}) AS BIGINT) FROM {parent})
                 AS n_parents,
               CAST(COUNT(*) AS BIGINT) AS matched_parents,
               CAST(MIN(_n) AS BIGINT) AS min_fanout,
               ROUND(SUM(_n) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_fanout,
               CAST(MAX(_n) AS BIGINT) AS max_fanout
        FROM (
          SELECT {ck}, COUNT(*) AS _n FROM {child}
          WHERE {ck} IS NOT NULL GROUP BY {ck}
        ) pp
        """)
    return " UNION ALL ".join(parts)


def unique_key_audit(tables) -> "DataFrame":
    """Primary-key uniqueness audit — the first rung of the validation
    ladder (beneath :func:`fk_orphan_audit` / :func:`fk_fanout_profile`):
    for every declared key, does it actually identify rows? ``tables``
    is a list of ``(table_name, df, key_cols)``. One row per table:
    total rows, distinct keys, keys carrying more than one row, the
    worst multiplicity, and the promote/block verdict.

    Shape: per table ONE combinable groupBy on the key columns (narrow
    projection — the scan prunes everything else) collapsed by a 1-row
    aggregate; the report is |tables| rows."""
    outs = []
    for name, df, keys in tables:
        per_key = df.groupBy(*keys).agg(F.count("*").alias("_cnt"))
        outs.append(
            per_key.agg(
                F.sum("_cnt").cast("long").alias("n_rows"),
                F.count("*").cast("long").alias("n_keys"),
                F.sum(F.when(F.col("_cnt") > 1, 1).otherwise(0))
                .cast("long")
                .alias("dup_keys"),
                F.max("_cnt").cast("long").alias("max_multiplicity"),
            ).select(
                F.lit(name).alias("table_name"),
                F.lit(",".join(keys)).alias("key_columns"),
                "n_rows",
                "n_keys",
                "dup_keys",
                "max_multiplicity",
                (F.col("dup_keys") == 0).alias("is_unique"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("table_name")


def unique_key_audit_sql(tables) -> str:
    """SQL twin; ``tables`` is ``(table_name, table_sql_name,
    key_cols)``."""
    parts = []
    for name, src, keys in tables:
        kl = ", ".join(keys)
        parts.append(f"""
        SELECT '{name}' AS table_name,
               '{",".join(keys)}' AS key_columns,
               CAST(SUM(cnt) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS dup_keys,
               CAST(MAX(cnt) AS BIGINT) AS max_multiplicity,
               SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) = 0 AS is_unique
        FROM (SELECT COUNT(*) AS cnt FROM {src} GROUP BY {kl})""")
    body = "\n        UNION ALL".join(parts)
    return f"""
        SELECT * FROM ({body})
        ORDER BY table_name
    """


def psi_buckets(
    df: "DataFrame", value_col: str = "value", keep: tuple = ()
) -> "DataFrame":
    """Stateless projection of a value onto the PSI/quantile-sketch
    log2 x 8 bucket grid — (``keep``…, blen, sub). No aggregate, no
    state: works unchanged on batch AND streaming DataFrames, which is
    what lets the streaming PSI monitor share the batch grid exactly."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(
            *keep,
            cents(value_col).alias("cents"),
        )
        .filter(F.col("cents") > 0)
        .select(*keep, "cents", F.length(F.expr("bin(cents)")).alias("blen"))
        .select(
            *keep,
            "blen",
            F.expr(
                "((cents - shiftleft(CAST(1 AS BIGINT), blen - 1)) * 8)"
                " div shiftleft(CAST(1 AS BIGINT), blen - 1)"
            ).alias("sub"),
        )
    )


def psi_value_drift(events: "DataFrame", value_col: str = "value") -> "DataFrame":
    """Population Stability Index — the ML-ops drift metric
    :func:`profile_drift` doesn't cover (null rates and NDV can hold
    steady while the SHAPE of a distribution walks away): the first-half
    and second-half snapshots of the observation window are binned on
    the quantile sketch's data-independent log2 x 8 grid and each bucket
    contributes ``(p - q) * ln(p / q)``.

    Determinism: bucket counts are exact integers on the shared grid;
    shares are add-one-smoothed exact rationals; each bucket's PSI term
    is floor-scaled to a 1e-9 integer grid (``psi_term_e9`` BIGINT — the
    JSD convention: never sum floats, sum integers), so the output is
    bit-stable and the consumer's total is an exact bigint sum. The
    usual reading: Σ terms < 0.1 stable, 0.1-0.2 drifting, > 0.2 act.

    Shape: two combinable histogram aggregates (one per half) full-outer
    joined on the |buckets|-row grid — nothing data-sized after the
    scans."""
    staged = psi_buckets(
        with_midpoint(events.withColumn("d", F.to_date("ts"))).select(
            F.expr("CASE WHEN d <= mid THEN 'old' ELSE 'new' END").alias("side"),
            F.col(value_col),
        ),
        value_col,
        keep=("side",),
    )
    hist = (
        staged.groupBy("blen", "sub")
        .agg(
            F.sum(F.when(F.col("side") == "old", 1).otherwise(0)).alias(
                "old_n"
            ),
            F.sum(F.when(F.col("side") == "new", 1).otherwise(0)).alias(
                "new_n"
            ),
        )
    )
    return psi_report(hist)


def psi_report(hist: "DataFrame") -> "DataFrame":
    """PSI rows from a bucket-count table (blen, sub, old_n, new_n) —
    the tail :func:`psi_value_drift` and the streaming monitor share, so
    a batch run and a streamed histogram can never diverge in the
    smoothing/scaling arithmetic."""
    tot = hist.agg(
        F.sum("old_n").alias("o_tot"),
        F.sum("new_n").alias("n_tot"),
        F.count("*").alias("b"),
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "blen",
            "sub",
            F.col("old_n").cast("long").alias("old_n"),
            F.col("new_n").cast("long").alias("new_n"),
            F.expr(
                "CAST(floor((old_n + 1) / CAST(o_tot + b AS DOUBLE)"
                " * 1e6 + 0.5) AS BIGINT)"
            ).alias("old_share_e6"),
            F.expr(
                "CAST(floor((new_n + 1) / CAST(n_tot + b AS DOUBLE)"
                " * 1e6 + 0.5) AS BIGINT)"
            ).alias("new_share_e6"),
            F.expr(
                "CAST(floor((((old_n + 1) / CAST(o_tot + b AS DOUBLE))"
                " - ((new_n + 1) / CAST(n_tot + b AS DOUBLE)))"
                " * ln(((old_n + 1) / CAST(o_tot + b AS DOUBLE))"
                "      / ((new_n + 1) / CAST(n_tot + b AS DOUBLE)))"
                " * 1e9 + 0.5) AS BIGINT)"
            ).alias("psi_term_e9"),
        )
        .orderBy("blen", "sub")
    )


def psi_value_drift_sql(src: str = "events", value_col: str = "value") -> str:
    return f"""
        WITH bounds AS (
          SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
          FROM {src}
        ),
        staged AS (
          SELECT CASE WHEN CAST(ts AS DATE)
                        <= lo + CAST(date_diff('day', lo, hi) // 2 AS INTEGER)
                      THEN 'old' ELSE 'new' END AS side,
                 length(bin(CAST(floor({value_col} * 100 + 0.5) AS BIGINT)))
                   AS blen,
                 ((CAST(floor({value_col} * 100 + 0.5) AS BIGINT)
                   - (CAST(1 AS BIGINT) <<
                      (length(bin(CAST(floor({value_col} * 100 + 0.5)
                                        AS BIGINT))) - 1))) * 8)
                 // (CAST(1 AS BIGINT) <<
                     (length(bin(CAST(floor({value_col} * 100 + 0.5)
                                       AS BIGINT))) - 1)) AS sub
          FROM {src} CROSS JOIN bounds
          WHERE {value_col} IS NOT NULL
            AND CAST(floor({value_col} * 100 + 0.5) AS BIGINT) > 0
        ),
        hist AS (
          SELECT blen, sub,
                 SUM(CASE WHEN side = 'old' THEN 1 ELSE 0 END) AS old_n,
                 SUM(CASE WHEN side = 'new' THEN 1 ELSE 0 END) AS new_n
          FROM staged GROUP BY blen, sub
        ),
        tot AS (
          SELECT SUM(old_n) AS o_tot, SUM(new_n) AS n_tot,
                 COUNT(*) AS b
          FROM hist
        )
        SELECT blen, sub,
               CAST(old_n AS BIGINT) AS old_n,
               CAST(new_n AS BIGINT) AS new_n,
               CAST(floor((old_n + 1) / CAST(o_tot + b AS DOUBLE)
                          * 1e6 + 0.5) AS BIGINT) AS old_share_e6,
               CAST(floor((new_n + 1) / CAST(n_tot + b AS DOUBLE)
                          * 1e6 + 0.5) AS BIGINT) AS new_share_e6,
               CAST(floor((((old_n + 1) / CAST(o_tot + b AS DOUBLE))
                           - ((new_n + 1) / CAST(n_tot + b AS DOUBLE)))
                          * ln(((old_n + 1) / CAST(o_tot + b AS DOUBLE))
                               / ((new_n + 1) / CAST(n_tot + b AS DOUBLE)))
                          * 1e9 + 0.5) AS BIGINT) AS psi_term_e9
        FROM hist CROSS JOIN tot
        ORDER BY blen, sub
    """


def ks_value_drift(events: "DataFrame", value_col: str = "value") -> "DataFrame":
    """Two-sample Kolmogorov-Smirnov statistic between the old and new
    halves of the observation window — the rank-based companion to
    :func:`psi_value_drift` (PSI needs a binning; KS is the exact
    max-ECDF-gap over the raw value grid and catches shifts a coarse
    grid smears out). Emits ONE row: the split sizes, the number of
    distinct value points, the arg-max value (cents), the exact integer
    gap numerator and the e6-scaled statistic.

    Determinism: values quantize to exact integer cents
    (``floor(v*100 + 0.5)``); per-cents counts and their running sums
    are exact bigints; the gap is compared as the cross-multiplied
    integer ``|cum_old*n_new - cum_new*n_old|`` (never a float ECDF),
    with the min-cents tiebreak on the arg-max. Only the final
    ``ks_d_e6`` touches doubles — identical integer inputs, identical
    IEEE ops, floor-scaled once.

    Shape at scale: one map-side-combinable GROUP BY cents (the value
    grid, not the row count, bounds the state), one window cumsum over
    that grid, one broadcast totals join, one top-1. Bound: the gap
    numerator tops out at n_old*n_new, so bigint holds to ~3e9 rows per
    side — past that, run the audit on the per-day pre-aggregates (the
    drift question is the same; the ECDF just steps coarser)."""
    from pyspark.sql import Window

    staged = (
        with_midpoint(events.withColumn("d", F.to_date("ts")))
        .filter(F.col(value_col).isNotNull())
        .select(
            F.expr("CASE WHEN d <= mid THEN 'old' ELSE 'new' END").alias("side"),
            cents(value_col).alias("cents"),
        )
    )
    per_val = staged.groupBy("cents").agg(
        F.sum(F.when(F.col("side") == "old", 1).otherwise(0)).alias("old_c"),
        F.sum(F.when(F.col("side") == "new", 1).otherwise(0)).alias("new_c"),
    )
    # both ECDF running sums ride ONE sharded global rank (the former
    # unpartitioned cumsum ran the whole distinct-value grid through a
    # single task — distinct cents saturate at the currency granularity,
    # but that's ~200k rows in one window task; the r10 bound sweep
    # caught it riding the allowlist). cents is the group key, so there
    # are no ties and the running sums are exact.
    from .partitioning import global_row_positions

    cum = global_row_positions(
        per_val, "cents", [], running_sum_col=["old_c", "new_c"]
    ).select(
        "cents",
        F.col("_gsum_old_c").alias("cum_o"),
        F.col("_gsum_new_c").alias("cum_n"),
    )
    tot = per_val.agg(
        F.sum("old_c").alias("n_old"),
        F.sum("new_c").alias("n_new"),
        F.count("*").alias("n_values"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.col("n_old").cast("long").alias("n_old"),
            F.col("n_new").cast("long").alias("n_new"),
            F.col("n_values").cast("long").alias("n_values"),
            F.col("cents").alias("ks_at_cents"),
            F.expr("abs(cum_o * n_new - cum_n * n_old)").alias("ks_num"),
            F.expr(
                # NULLIF: one empty side makes D undefined — report NULL,
                # never a divide-by-zero (single-day windows happen)
                "CAST(floor(abs(cum_o * n_new - cum_n * n_old)"
                " / nullif(CAST(n_old AS DOUBLE) * CAST(n_new AS DOUBLE),"
                " 0.0d) * 1e6 + 0.5) AS BIGINT)"
            ).alias("ks_d_e6"),
        )
        .orderBy(F.desc("ks_num"), F.asc("ks_at_cents"))
        .limit(1)
    )


def ks_value_drift_sql(src: str = "events", value_col: str = "value") -> str:
    return f"""
        WITH bounds AS (
          SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
          FROM {src}
        ),
        staged AS (
          SELECT CASE WHEN CAST(ts AS DATE)
                        <= lo + CAST(date_diff('day', lo, hi) // 2 AS INTEGER)
                      THEN 'old' ELSE 'new' END AS side,
                 CAST(floor({value_col} * 100 + 0.5) AS BIGINT) AS cents
          FROM {src} CROSS JOIN bounds
          WHERE {value_col} IS NOT NULL
        ),
        per_val AS (
          SELECT cents,
                 SUM(CASE WHEN side = 'old' THEN 1 ELSE 0 END) AS old_c,
                 SUM(CASE WHEN side = 'new' THEN 1 ELSE 0 END) AS new_c
          FROM staged GROUP BY cents
        ),
        cum AS (
          SELECT cents,
                 SUM(old_c) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_o,
                 SUM(new_c) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
          FROM per_val
        ),
        tot AS (
          SELECT SUM(old_c) AS n_old, SUM(new_c) AS n_new,
                 COUNT(*) AS n_values
          FROM per_val
        )
        SELECT CAST(n_old AS BIGINT) AS n_old,
               CAST(n_new AS BIGINT) AS n_new,
               CAST(n_values AS BIGINT) AS n_values,
               cents AS ks_at_cents,
               CAST(abs(cum_o * n_new - cum_n * n_old) AS BIGINT) AS ks_num,
               CAST(floor(abs(cum_o * n_new - cum_n * n_old)
                          / NULLIF(CAST(n_old AS DOUBLE)
                                   * CAST(n_new AS DOUBLE), 0.0)
                          * 1e6 + 0.5) AS BIGINT) AS ks_d_e6
        FROM cum CROSS JOIN tot
        ORDER BY abs(cum_o * n_new - cum_n * n_old) DESC, cents ASC
        LIMIT 1
    """


# Benford expected first-digit shares, floor(log10(1 + 1/d) * 1e9 + 0.5):
# mathematical constants precomputed once so NO cross-engine libm call
# sits in the contract.
BENFORD_E9 = {
    1: 301029996,
    2: 176091259,
    3: 124938737,
    4: 96910013,
    5: 79181246,
    6: 66946790,
    7: 57991947,
    8: 51152522,
    9: 45757491,
}


def benford_digit_audit(df: "DataFrame", amount_col: str) -> "DataFrame":
    """Benford's-law first-digit audit over a monetary column — the
    classic fabricated-data / ingestion-bug screen (a constant-price
    catalog, a unit mixup, or synthetic padding all bend the leading
    digit away from log10(1 + 1/d)).

    Determinism: the leading digit comes from STRING inspection of the
    floored integer amount (no log10 on data); expected shares are the
    inlined e9 integer constants above; per-digit counts are exact; the
    chi-square term assembles tot*share and (n-exp)^2/exp from identical
    integer inputs with identical IEEE ops, floor-scaled to e6 once.

    Shape: one map-side-combinable 9-group aggregate + a broadcast
    9-row digit spine (zero-count digits still report)."""
    spine = local_table(
        df.sparkSession, list(BENFORD_E9.items()), "digit int, exp_ppb long"
    )
    counts = (
        df.filter(F.col(amount_col) >= 1)
        .select(
            F.substring(
                F.floor(F.col(amount_col)).cast("long").cast("string"), 1, 1
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("tot"))
    return (
        F.broadcast(spine)
        .join(counts, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            F.expr(
                "CAST(floor(coalesce(n, 0) / CAST(tot AS DOUBLE)"
                " * 1e6 + 0.5) AS BIGINT)"
            ).alias("obs_ppm"),
            F.col("exp_ppb").alias("exp_ppb"),
            F.expr(
                "CAST(floor("
                " pow(coalesce(n, 0) - tot * (exp_ppb / 1e9), 2)"
                " / (tot * (exp_ppb / 1e9)) * 1e6 + 0.5) AS BIGINT)"
            ).alias("chi2_term_e6"),
        )
        .orderBy("digit")
    )


def benford_digit_audit_sql(src: str, amount_col: str) -> str:
    values = ", ".join(f"({d}, {e9})" for d, e9 in BENFORD_E9.items())
    return f"""
        WITH spine(digit, exp_ppb) AS (VALUES {values}),
        counts AS (
          SELECT CAST(substr(CAST(CAST(floor({amount_col}) AS BIGINT)
                             AS VARCHAR), 1, 1) AS INTEGER) AS digit,
                 COUNT(*) AS n
          FROM {src} WHERE {amount_col} >= 1
          GROUP BY 1
        ),
        tot AS (SELECT SUM(n) AS tot FROM counts)
        SELECT s.digit,
               CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
               CAST(floor(COALESCE(c.n, 0) / CAST(tot AS DOUBLE)
                          * 1e6 + 0.5) AS BIGINT) AS obs_ppm,
               CAST(s.exp_ppb AS BIGINT) AS exp_ppb,
               CAST(floor(
                 pow(COALESCE(c.n, 0) - tot * (s.exp_ppb / 1e9), 2)
                 / (tot * (s.exp_ppb / 1e9)) * 1e6 + 0.5) AS BIGINT)
                 AS chi2_term_e6
        FROM spine s LEFT JOIN counts c ON c.digit = s.digit
        CROSS JOIN tot
        ORDER BY s.digit
    """


def auc_exact(scored: "DataFrame", score_col: str, label_col: str) -> "DataFrame":
    """Exact ROC-AUC of a score against a binary label via the
    tie-corrected Mann-Whitney rank-sum — the model-eval primitive behind
    every classifier/filter quality gate (language filters, quality
    logits, dedup verdicts). One row out: class sizes, distinct score
    count, the doubled U statistic and the e6-scaled AUC.

    Tie handling is the textbook midrank: a tie group spanning ranks
    (a, a+g] contributes ``pos_g * (2a + g + 1)`` to DOUBLED positive
    rank-sum — kept doubled so the whole statistic is an exact bigint
    (``u2 = 2*R_pos - n_pos*(n_pos+1) = 2*U``); ties then cost 0.5 each,
    exactly. Only the final division touches doubles, floor-scaled once.

    Shape at scale: one map-side-combinable GROUP BY score (state is the
    score grid, not the row count), one window cumsum over that grid,
    one total-merge row. Bound: u2 tops out at 2*n_pos*n_neg (~pairs),
    so bigint holds to ~2e9 rows per class — past that, evaluate on a
    stratified eval sample as every offline AUC job does."""
    from pyspark.sql import Window

    per = (
        scored.filter(
            F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .groupBy(F.col(score_col).alias("s"))
        .agg(
            F.sum(F.col(label_col).cast("long")).alias("pos_g"),
            F.sum(F.lit(1) - F.col(label_col).cast("long")).alias("neg_g"),
        )
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per.select(
        "pos_g",
        "neg_g",
        F.coalesce(
            F.sum(F.col("pos_g") + F.col("neg_g")).over(w), F.lit(0)
        ).alias("a"),
    )
    return ranked.agg(
        F.sum("pos_g").cast("long").alias("n_pos"),
        F.sum("neg_g").cast("long").alias("n_neg"),
        F.count("*").cast("long").alias("n_scores"),
        (
            F.sum(
                F.col("pos_g")
                * (F.lit(2) * F.col("a") + F.col("pos_g") + F.col("neg_g") + 1)
            )
            - F.sum("pos_g") * (F.sum("pos_g") + 1)
        )
        .cast("long")
        .alias("u2"),
    ).select(
        "n_pos",
        "n_neg",
        "n_scores",
        "u2",
        F.expr(
            # NULLIF: a single-class input makes AUC undefined — NULL,
            # never a divide-by-zero
            "CAST(floor(u2 / nullif(2.0 * CAST(n_pos AS DOUBLE)"
            " * CAST(n_neg AS DOUBLE), 0.0d) * 1e6 + 0.5) AS BIGINT)"
        ).alias("auc_e6"),
    )


def auc_exact_sql(scored_src: str, score_col: str, label_col: str) -> str:
    """``scored_src`` is a FROM-able producing (score_col, label_col)
    with label in {0,1}/boolean."""
    return f"""
        WITH per AS (
          SELECT {score_col} AS s,
                 SUM(CAST({label_col} AS BIGINT)) AS pos_g,
                 SUM(1 - CAST({label_col} AS BIGINT)) AS neg_g
          FROM {scored_src}
          WHERE {score_col} IS NOT NULL AND {label_col} IS NOT NULL
          GROUP BY 1
        ),
        ranked AS (
          SELECT pos_g, neg_g,
                 COALESCE(SUM(pos_g + neg_g) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS a
          FROM per
        ),
        tot AS (
          SELECT CAST(SUM(pos_g) AS BIGINT) AS n_pos,
                 CAST(SUM(neg_g) AS BIGINT) AS n_neg,
                 CAST(COUNT(*) AS BIGINT) AS n_scores,
                 CAST(SUM(pos_g * (2 * a + pos_g + neg_g + 1))
                      - SUM(pos_g) * (SUM(pos_g) + 1) AS BIGINT) AS u2
          FROM ranked
        )
        SELECT n_pos, n_neg, n_scores, u2,
               CAST(floor(u2 / NULLIF(2.0 * CAST(n_pos AS DOUBLE)
                                      * CAST(n_neg AS DOUBLE), 0.0)
                          * 1e6 + 0.5) AS BIGINT) AS auc_e6
        FROM tot
    """


def mix_drift(events: "DataFrame", cat_col: str = "event_type") -> "DataFrame":
    """Categorical mix drift between the old and new halves of the
    observation window — the chi-square homogeneity companion to
    :func:`psi_value_drift` / :func:`ks_value_drift` (those watch a
    numeric SHAPE; this watches a category MIX, e.g. the view/click/
    purchase blend tilting after a tracking change).

    Per category: exact old/new counts, the expected counts under
    homogeneity (row_total * side_total / grand_total — an exact
    rational of bigints, assembled identically as doubles), and the
    chi-square contribution of both cells floor-scaled to e6. The
    consumer sums ``chi2_term_e6`` and compares against the
    chi-square(k-1) critical value.

    Shape: one combinable (category) aggregate + a 1-row totals
    broadcast — state is the category set."""
    hist = (
        with_midpoint(events.withColumn("d", F.to_date("ts")))
        .filter(F.col(cat_col).isNotNull())
        .select(
            F.col(cat_col).alias("category"),
            F.expr("CASE WHEN d <= mid THEN 1 ELSE 0 END").alias("is_old"),
        )
        .groupBy("category")
        .agg(
            F.sum("is_old").alias("old_n"),
            F.sum(F.lit(1) - F.col("is_old")).alias("new_n"),
        )
    )
    return mix_report(hist)


def mix_report(hist: "DataFrame") -> "DataFrame":
    """Chi-square rows from a per-category count table (category, old_n,
    new_n) — the tail :func:`mix_drift` and the streaming monitor share
    (the psi_report convention)."""
    tot = hist.agg(
        F.sum("old_n").alias("o_tot"), F.sum("new_n").alias("n_tot")
    )
    exp_old = (
        "(old_n + new_n) * (CAST(o_tot AS DOUBLE) / (o_tot + n_tot))"
    )
    exp_new = (
        "(old_n + new_n) * (CAST(n_tot AS DOUBLE) / (o_tot + n_tot))"
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "category",
            F.col("old_n").cast("long").alias("old_n"),
            F.col("new_n").cast("long").alias("new_n"),
            F.expr(
                f"CAST(floor({exp_old} * 1e6 + 0.5) AS BIGINT)"
            ).alias("exp_old_e6"),
            F.expr(
                f"CAST(floor((pow(old_n - {exp_old}, 2) / {exp_old}"
                f" + pow(new_n - {exp_new}, 2) / {exp_new})"
                " * 1e6 + 0.5) AS BIGINT)"
            ).alias("chi2_term_e6"),
        )
        .orderBy("category")
    )


def mix_drift_sql(src: str = "events", cat_col: str = "event_type") -> str:
    exp_old = "(old_n + new_n) * (CAST(o_tot AS DOUBLE) / (o_tot + n_tot))"
    exp_new = "(old_n + new_n) * (CAST(n_tot AS DOUBLE) / (o_tot + n_tot))"
    return f"""
        WITH bounds AS (
          SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
          FROM {src}
        ),
        hist AS (
          SELECT {cat_col} AS category,
                 SUM(CASE WHEN CAST(ts AS DATE)
                        <= lo + CAST(date_diff('day', lo, hi) // 2 AS INTEGER)
                     THEN 1 ELSE 0 END) AS old_n,
                 SUM(CASE WHEN CAST(ts AS DATE)
                        <= lo + CAST(date_diff('day', lo, hi) // 2 AS INTEGER)
                     THEN 0 ELSE 1 END) AS new_n
          FROM {src} CROSS JOIN bounds
          WHERE {cat_col} IS NOT NULL
          GROUP BY 1
        ),
        tot AS (
          SELECT SUM(old_n) AS o_tot, SUM(new_n) AS n_tot FROM hist
        )
        SELECT category,
               CAST(old_n AS BIGINT) AS old_n,
               CAST(new_n AS BIGINT) AS new_n,
               CAST(floor({exp_old} * 1e6 + 0.5) AS BIGINT) AS exp_old_e6,
               CAST(floor((pow(old_n - {exp_old}, 2) / {exp_old}
                           + pow(new_n - {exp_new}, 2) / {exp_new})
                          * 1e6 + 0.5) AS BIGINT) AS chi2_term_e6
        FROM hist CROSS JOIN tot
        ORDER BY category
    """


# ------------------------------------- partition completeness / freshness
def partition_completeness(events: "DataFrame") -> "DataFrame":
    """Ingest-completeness audit over the table's date partitions — the
    data-ops gate that catches a silently missing or half-loaded daily
    drop before anything downstream trains on it: every calendar day in
    the table's [min, max] span gets a row count (zero-filled from the
    dense day grid, so a WHOLLY absent partition is surfaced, not
    skipped) and a verdict against the trailing-7-day median —
    ``missing`` (0 rows), ``low`` (count < half the median), ``ok``,
    or ``warmup`` (fewer than 7 prior days to judge by).

    Determinism: counts are exact bigints; the trailing median is the
    4th-smallest of exactly 7 integers (``array_sort`` + element pick —
    odd window, so no interpolation exists to diverge on) and the
    ``low`` cut compares ``2*n < med`` in bigint. No doubles anywhere.

    Shape at scale: one map-side-combinable per-day count, a broadcast
    1-row span joined to a |days|-row exploded grid, and lag windows
    over the |days|-row table — the window never touches raw rows."""
    from pyspark.sql import Window as W

    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    span = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = span.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    dense = (
        grid.join(daily, "day", "left")
        .select("day", F.coalesce("n", F.lit(0)).alias("n"))
    )
    w = W.orderBy("day")  # |days|-row table: bounded, documented above
    lags = F.array(*[F.lag("n", i).over(w) for i in range(1, 8)])
    return (
        dense.withColumn("_l", lags)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n").alias("n_rows"),
            F.expr(
                "CASE WHEN exists(_l, x -> x IS NULL) THEN NULL"
                " ELSE element_at(array_sort(_l), 4) END"
            ).alias("trail_med7"),
            F.expr(
                "CASE"
                " WHEN exists(_l, x -> x IS NULL) THEN 'warmup'"
                " WHEN n = 0 THEN 'missing'"
                " WHEN 2 * n < element_at(array_sort(_l), 4) THEN 'low'"
                " ELSE 'ok' END"
            ).alias("verdict"),
        )
        .orderBy("day")
    )


def partition_completeness_sql(src: str = "events") -> str:
    lag_list = ", ".join(
        f"LAG(n, {i}) OVER (ORDER BY day)" for i in range(1, 8)
    )
    return f"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
          FROM {src} GROUP BY 1
        ),
        grid AS (
          SELECT CAST(UNNEST(generate_series(
                   (SELECT MIN(day) FROM daily),
                   (SELECT MAX(day) FROM daily),
                   INTERVAL 1 DAY)) AS DATE) AS day
        ),
        dense AS (
          SELECT grid.day, COALESCE(daily.n, 0) AS n
          FROM grid LEFT JOIN daily ON grid.day = daily.day
        ),
        lagged AS (
          SELECT day, n, [{lag_list}] AS l FROM dense
        )
        SELECT STRFTIME(day, '%Y-%m-%d') AS day,
               CAST(n AS BIGINT) AS n_rows,
               CASE WHEN len(list_filter(l, x -> x IS NULL)) > 0 THEN NULL
                    ELSE CAST(list_sort(l)[4] AS BIGINT) END AS trail_med7,
               CASE WHEN len(list_filter(l, x -> x IS NULL)) > 0
                      THEN 'warmup'
                    WHEN n = 0 THEN 'missing'
                    WHEN 2 * n < list_sort(l)[4] THEN 'low'
                    ELSE 'ok' END AS verdict
        FROM lagged
        ORDER BY day
    """


# ------------------------------------------------- robust winsorization
def winsorize_stats(
    events: DataFrame, p_lo: float = 0.01, p_hi: float = 0.99
) -> DataFrame:
    """Winsorized robust feature statistics per event_type — the
    feature-prep pass an ML pipeline runs before normalizing a
    heavy-tailed column: clamp to the [p01, p99] band and report how
    much mass the clamps touched.

    Thresholds use ``percentile_disc`` (an ACTUAL data value, no
    interpolation) so both engines land on bit-identical cutoffs and
    the strict < / > clip counts can't sit on a float knife edge —
    the same determinism contract as the exact-integer ADC grids.

    Two passes over the column: a per-group threshold aggregate (rows
    per group collapse map-side into the percentile's sort — at 100 TB
    with few, hot group keys swap in the KLL sketch variant,
    ``sketch_quantile_bands``, same shape), then one broadcast join of
    the |groups|-row threshold table back onto the scan for the
    clamped re-aggregate."""
    thresholds = events.groupBy("event_type").agg(
        F.expr(f"percentile_disc({p_lo}) WITHIN GROUP (ORDER BY value)")
        .alias("lo"),
        F.expr(f"percentile_disc({p_hi}) WITHIN GROUP (ORDER BY value)")
        .alias("hi"),
    )
    clamped = events.join(F.broadcast(thresholds), "event_type").select(
        "event_type",
        "lo",
        "hi",
        "value",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
        .alias("wv"),
    )
    return (
        clamped.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("lo").alias("p_lo"),
            F.min("hi").alias("p_hi"),
            F.sum((F.col("value") < F.col("lo")).cast("long"))
            .alias("n_clip_lo"),
            F.sum((F.col("value") > F.col("hi")).cast("long"))
            .alias("n_clip_hi"),
            F.round(F.avg("wv"), 4).alias("win_mean"),
        )
        .orderBy("event_type")
    )


def winsorize_stats_sql(
    src: str = "events", p_lo: float = 0.01, p_hi: float = 0.99
) -> str:
    """DuckDB twin of :func:`winsorize_stats` (quantile_disc ==
    percentile_disc: smallest value whose cumulative distribution
    reaches p — verified identical on boundary fixtures)."""
    return f"""
        WITH th AS (
          SELECT event_type,
                 quantile_disc(value, {p_lo}) AS lo,
                 quantile_disc(value, {p_hi}) AS hi
          FROM {src} GROUP BY 1
        )
        SELECT e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(t.lo) AS p_lo,
               MIN(t.hi) AS p_hi,
               CAST(SUM(CASE WHEN e.value < t.lo THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clip_lo,
               CAST(SUM(CASE WHEN e.value > t.hi THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clip_hi,
               ROUND(AVG(LEAST(GREATEST(e.value, t.lo), t.hi)), 4)
                 AS win_mean
        FROM {src} e JOIN th t ON e.event_type = t.event_type
        GROUP BY 1
        ORDER BY 1
    """


def robust_scale_stats(events: DataFrame, k: float = 3.0) -> DataFrame:
    """Median/MAD robust-scaling statistics per event_type — the
    outlier-resistant counterpart of mean/stddev standardization
    (:func:`winsorize_stats`'s sibling; MAD tolerates 50% contamination
    where stddev breaks at one bad row).

    Both the median and the MAD use ``percentile_disc`` (actual data
    values), so the cutoffs are bit-identical across engines and the
    outlier count (|x - med| > k·MAD, IEEE-exact arithmetic on exact
    inputs) can't sit on a knife edge. Three passes over the column,
    each a |groups|-row broadcast back onto the scan; the KLL-sketch
    swap is the 100 TB path for hot group keys."""
    med = events.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
        .alias("med"),
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_type", "med", "value",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)")
        .alias("mad"),
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("value").alias("n"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(
                (F.col("adev") > F.lit(k) * F.col("mad")).cast("long")
            ).alias("n_outliers"),
        )
        .select(
            "event_type", "n", "med", "mad", "n_outliers",
            F.expr("n_outliers * 1000000 div n").alias("outlier_ppm"),
        )
        .orderBy("event_type")
    )


def robust_scale_stats_sql(src: str = "events", k: float = 3.0) -> str:
    """DuckDB twin of :func:`robust_scale_stats`."""
    return f"""
        WITH med AS (
          SELECT event_type, quantile_disc(value, 0.5) AS med
          FROM {src} GROUP BY 1
        ),
        dev AS (
          SELECT e.event_type, m.med, e.value,
                 abs(e.value - m.med) AS adev
          FROM {src} e JOIN med m ON e.event_type = m.event_type
        ),
        mad AS (
          SELECT event_type, quantile_disc(adev, 0.5) AS mad
          FROM dev GROUP BY 1
        )
        SELECT d.event_type,
               CAST(COUNT(d.value) AS BIGINT) AS n,
               MIN(d.med) AS med,
               MIN(t.mad) AS mad,
               CAST(SUM(CASE WHEN d.adev > {k} * t.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers,
               CAST(SUM(CASE WHEN d.adev > {k} * t.mad THEN 1 ELSE 0 END)
                    * 1000000 // COUNT(d.value) AS BIGINT) AS outlier_ppm
        FROM dev d JOIN mad t ON d.event_type = t.event_type
        GROUP BY 1
        ORDER BY 1
    """


# ------------------------------------------- portable partition checksums
_CK_MOD = 2_147_483_647      # 2^31 - 1: keeps every product under 2^63
_CK_MUL_ID = 2_654_435_761   # Knuth multiplicative constants
_CK_MUL_V = 40_503


def partition_checksums(events: DataFrame) -> DataFrame:
    """Order-insensitive per-day row checksums for replication /
    migration verification at warehouse scale: two tables agree on a
    day iff (n_rows, checksum) match, regardless of row order, file
    layout, or engine.

    The row hash is PORTABLE integer arithmetic (reduce-then-multiply
    mod 2^31-1, so no BIGINT overflow in either engine — Spark would
    wrap silently where DuckDB raises), the day aggregate is bit_xor —
    commutative, so partial aggregation map-side combines and a
    re-partitioned replica produces the identical value. One scan, one
    |days|-group aggregate."""
    m, p_id, p_v = _CK_MOD, _CK_MUL_ID, _CK_MUL_V
    # Spark spells bitwise xor '^' (DuckDB's '^' is POWER — its twin
    # uses the xor() function instead)
    h = (
        f"((event_id % {m}) * {p_id} % {m})"
        f" ^ (((coalesce(CAST(floor(value * 100) AS BIGINT), -1) % {m}"
        f" + {m}) % {m}) * {p_v} % {m})"
    )
    return (
        events.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.expr(h).alias("h"),
        )
        .groupBy("day")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(h)").alias("checksum"),
        )
        .orderBy("day")
    )


def partition_checksums_sql(src: str = "events") -> str:
    """DuckDB twin of :func:`partition_checksums` (same exact integer
    lattice; xor/bit_xor are engine-native on BIGINT)."""
    m, p_id, p_v = _CK_MOD, _CK_MUL_ID, _CK_MUL_V
    return f"""
        SELECT strftime(ts, '%Y-%m-%d') AS day,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(bit_xor(
                 xor((event_id % {m}) * {p_id} % {m},
                     ((coalesce(CAST(floor(value * 100) AS BIGINT), -1)
                       % {m} + {m}) % {m}) * {p_v} % {m})
               ) AS BIGINT) AS checksum
        FROM {src}
        GROUP BY 1
        ORDER BY 1
    """


# --------------------------------------- k-anon generalization planner
def kanon_generalization_plan(
    customer: DataFrame,
    k: int = 5,
    band_unit: float = 2000.0,
    max_level: int = 2,
) -> DataFrame:
    """The decision step AFTER :func:`k_anonymity_audit` flags classes:
    for every level-0 equivalence class (nation, segment, balance band),
    find the MINIMAL generalization of the banded attribute — halving
    band resolution per level — that reaches k-anonymity, else mark the
    class for suppression. This is the generalization-ladder plan a
    privacy officer executes instead of blanket-dropping rows.

    Bands at every level come straight from ``floor(acctbal /
    (unit·2^L))`` (the nested-floor law makes the ladder consistent),
    so negative balances band identically in both engines — no
    truncate-vs-floor divergence. Aggregates are |classes|-sized at
    every level; the coarser levels broadcast back onto level 0."""
    lv = [
        F.floor(F.col("c_acctbal") / (band_unit * (2 ** L))).cast("long")
        for L in range(max_level + 1)
    ]
    base = customer.select(
        "c_nationkey", "c_mktsegment",
        *[lv[L].alias(f"band_{L}") for L in range(max_level + 1)],
    )
    l0 = base.groupBy("c_nationkey", "c_mktsegment", "band_0").agg(
        F.count("*").alias("class_size"),
        *[F.min(f"band_{L}").alias(f"band_{L}")
          for L in range(1, max_level + 1)],
    )
    out = l0
    for L in range(1, max_level + 1):
        szl = (
            base.groupBy("c_nationkey", "c_mktsegment", f"band_{L}")
            .agg(F.count("*").alias(f"size_{L}"))
        )
        out = out.join(
            F.broadcast(szl),
            ["c_nationkey", "c_mktsegment", f"band_{L}"],
        )
    plan = (
        F.when(F.col("class_size") >= k, F.lit("release"))
        .when(F.col("size_1") >= k, F.lit("generalize_1"))
        .when(F.col("size_2") >= k, F.lit("generalize_2"))
        .otherwise(F.lit("suppress"))
    )
    return out.select(
        "c_nationkey",
        "c_mktsegment",
        "band_0",
        "class_size",
        plan.alias("plan"),
    ).orderBy("c_nationkey", "c_mktsegment", "band_0")


def kanon_generalization_plan_sql(
    src: str = "customer",
    k: int = 5,
    band_unit: float = 2000.0,
) -> str:
    """DuckDB twin of :func:`kanon_generalization_plan` (floor() on the
    raw balance at every level — identical banding semantics)."""
    u = band_unit
    return f"""
        WITH base AS (
          SELECT c_nationkey, c_mktsegment,
                 CAST(FLOOR(c_acctbal / {u}) AS BIGINT) AS band_0,
                 CAST(FLOOR(c_acctbal / {u * 2}) AS BIGINT) AS band_1,
                 CAST(FLOOR(c_acctbal / {u * 4}) AS BIGINT) AS band_2
          FROM {src}
        ),
        l0 AS (
          SELECT c_nationkey, c_mktsegment, band_0,
                 COUNT(*) AS class_size,
                 MIN(band_1) AS band_1, MIN(band_2) AS band_2
          FROM base GROUP BY 1, 2, 3
        ),
        s1 AS (
          SELECT c_nationkey, c_mktsegment, band_1, COUNT(*) AS size_1
          FROM base GROUP BY 1, 2, 3
        ),
        s2 AS (
          SELECT c_nationkey, c_mktsegment, band_2, COUNT(*) AS size_2
          FROM base GROUP BY 1, 2, 3
        )
        SELECT l0.c_nationkey, l0.c_mktsegment, l0.band_0,
               CAST(l0.class_size AS BIGINT) AS class_size,
               CASE WHEN l0.class_size >= {k} THEN 'release'
                    WHEN s1.size_1 >= {k} THEN 'generalize_1'
                    WHEN s2.size_2 >= {k} THEN 'generalize_2'
                    ELSE 'suppress' END AS plan
        FROM l0
        JOIN s1 USING (c_nationkey, c_mktsegment, band_1)
        JOIN s2 USING (c_nationkey, c_mktsegment, band_2)
        ORDER BY 1, 2, 3
    """


# ------------------------------------------- pseudonymization audit
PSEUDONYM_SALT = "amp-pseudo-v1|"


def pseudonym_bucket_audit(
    events: DataFrame, salt: str = PSEUDONYM_SALT
) -> DataFrame:
    """Audit of salted-SHA-256 user pseudonymization — the
    GDPR-pipeline step that replaces raw user_ids with stable tokens
    before data leaves the trust boundary. Two properties a release
    gate must check: the mapping is COLLISION-FREE (two users sharing
    a token silently merges their histories), and tokens spread
    UNIFORMLY across downstream shard buckets (a skewed first nibble
    means someone truncated the hash or double-hashed).

    Output: one row per first-hex-nibble bucket (16 rows) with the
    user count, distinct-token count, collision count, and the signed
    deviation from a perfectly uniform spread in exact integer ppm
    (``(n*16 - total) * 1e6 div total`` — the [[cross-engine-
    determinism]] integer contract; SHA-256 hex is lowercase in both
    engines, pinned by test).

    Shape at scale: one distinct over user_id (map-side combinable),
    one hash projection, one 16-group aggregate; the 1-row total is a
    broadcast. Nothing holds more than |users| rows and the hot path
    is whole-stage codegen."""
    users = events.select("user_id").filter(
        F.col("user_id").isNotNull()
    ).distinct()
    tok = users.select(
        "user_id",
        F.sha2(F.concat(F.lit(salt), F.col("user_id").cast("string")), 256)
        .alias("token"),
    )
    per_bucket = (
        tok.groupBy(F.substring("token", 1, 1).alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.countDistinct("token").cast("long").alias("n_tokens"),
        )
        .withColumn("n_collisions", F.col("n_users") - F.col("n_tokens"))
    )
    total = per_bucket.agg(F.sum("n_users").alias("_tot"))
    return (
        per_bucket.crossJoin(F.broadcast(total))
        .withColumn("_d", (F.col("n_users") * 16 - F.col("_tot")) * 1_000_000)
        .select(
            "bucket",
            "n_users",
            "n_tokens",
            "n_collisions",
            # dev goes NEGATIVE for under-populated buckets: Spark div
            # and DuckDB // BOTH truncate toward zero (-7//2 = -3); the
            # pymod form is used because the spec wants FLOOR semantics
            # for negative deviations, applied identically on both
            # engines (seasonal_decompose contract)
            F.expr(
                "(_d - ((_d % _tot) + _tot) % _tot) div _tot"
            ).alias("dev_ppm"),
        )
        .orderBy("bucket")
    )


def pseudonym_bucket_audit_sql(
    src: str = "events", salt: str = PSEUDONYM_SALT
) -> str:
    return f"""
        WITH users AS (
          SELECT DISTINCT user_id FROM {src} WHERE user_id IS NOT NULL
        ),
        tok AS (
          SELECT user_id,
                 sha256('{salt}' || CAST(user_id AS VARCHAR)) AS token
          FROM users
        ),
        per_bucket AS (
          SELECT substring(token, 1, 1) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(COUNT(DISTINCT token) AS BIGINT) AS n_tokens
          FROM tok GROUP BY 1
        ),
        total AS (SELECT SUM(n_users) AS _tot FROM per_bucket),
        devd AS (
          SELECT bucket, n_users, n_tokens,
                 (n_users * 16 - _tot) * 1000000 AS _d, _tot
          FROM per_bucket, total
        )
        SELECT bucket, n_users, n_tokens,
               CAST(n_users - n_tokens AS BIGINT) AS n_collisions,
               -- same pymod floor-division form as the Spark side
               CAST((_d - ((_d % _tot) + _tot) % _tot) // _tot AS BIGINT)
                 AS dev_ppm
        FROM devd
        ORDER BY bucket
    """


# ------------------------------------------- leave-one-out target encoding
TENC_SMOOTH_M = 10
TENC_SAMPLE_MOD = 199


def target_encode_loo(
    events: DataFrame,
    smooth_m: int = TENC_SMOOTH_M,
    sample_mod: int = TENC_SAMPLE_MOD,
) -> DataFrame:
    """Leakage-safe leave-one-out target encoding of event_type against
    the cents target — the categorical-feature workhorse of tabular ML
    pipelines, in the form that does NOT leak the row's own label:
    enc_i = (sum_class - cents_i + m * prior) / (n_class - 1 + m), with
    an m-weighted global prior shrinking rare classes toward the
    corpus mean (micro-averaged empirical Bayes).

    EXACT integer arithmetic: cents are bigint, the prior is
    sum_g * 1e6 div n_g, and each row's encoding is one bigint division
    on the 1e-6 grid — truncating division agrees between Spark ``div``
    and DuckDB ``//`` (both toward zero), and every intermediate stays
    under 2^63 while total corpus cents stay under ~9.2e12 - pre-scale
    per class beyond that.

    The full encoded table is |events| rows (a feature column, not a
    report), so the REGISTRY query emits the deterministic
    event_id % ``sample_mod`` == 0 audit slice — the encode itself is a
    per-row projection against two broadcast tables (|classes| rows and
    1 row), zero extra shuffles at any scale."""
    rows = events.filter(F.col("value").isNotNull()).select(
        "event_id", "event_type", cents().alias("cents")
    )
    per_class = rows.groupBy("event_type").agg(
        F.count("*").alias("n_class"), F.sum("cents").alias("sum_class")
    )
    prior = rows.agg(
        F.expr("sum(cents) * 1000000 div count(*)").alias("prior_micro")
    )
    return (
        rows.filter(F.col("event_id") % sample_mod == 0)
        .join(F.broadcast(per_class), "event_type")
        .crossJoin(F.broadcast(prior))
        .select(
            "event_id",
            "event_type",
            "cents",
            "n_class",
            "prior_micro",
            F.expr(
                f"((sum_class - cents) * 1000000"
                f" + {int(smooth_m)} * prior_micro)"
                f" div (n_class - 1 + {int(smooth_m)})"
            ).alias("enc_micro"),
        )
        .orderBy("event_id")
    )


def target_encode_loo_sql(
    src: str = "events",
    smooth_m: int = TENC_SMOOTH_M,
    sample_mod: int = TENC_SAMPLE_MOD,
) -> str:
    return f"""
        WITH rows_ AS (
          SELECT event_id, event_type,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
          FROM {src} WHERE value IS NOT NULL
        ),
        per_class AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_class,
                 SUM(cents) AS sum_class
          FROM rows_ GROUP BY 1
        ),
        prior AS (
          SELECT CAST(SUM(cents) * 1000000 // COUNT(*) AS BIGINT)
                   AS prior_micro
          FROM rows_
        )
        SELECT r.event_id, r.event_type, r.cents, c.n_class,
               p.prior_micro,
               CAST(((c.sum_class - r.cents) * 1000000
                     + {int(smooth_m)} * p.prior_micro)
                    // (c.n_class - 1 + {int(smooth_m)}) AS BIGINT)
                 AS enc_micro
        FROM rows_ r
        JOIN per_class c ON r.event_type = c.event_type
        CROSS JOIN prior p
        WHERE r.event_id % {int(sample_mod)} = 0
        ORDER BY r.event_id
    """


# ------------------------------------------- id-sequence density audit
IDGAP_BUCKET = 1000
IDGAP_PLANT_RESIDUE = 777


def id_density_audit(
    events: DataFrame,
    bucket: int = IDGAP_BUCKET,
    plant_residue: int | None = IDGAP_PLANT_RESIDUE,
) -> DataFrame:
    """CDC-completeness audit over a monotonically-assigned id column:
    bucket the id space (``event_id div bucket``) and report, per
    bucket, the observed row count against the bucket's observed
    [min, max] span — n_missing > 0 means rows were lost between the
    source and this table (the replication hole a row-count-only check
    averages away, localized to an id range someone can replay).

    The fixture id space is dense, so the registry query PLANTS a
    deterministic deletion (drops ids with id % bucket == residue)
    before auditing — the audit must find exactly those holes; pass
    ``plant_residue=None`` for real data. Span-based counting only sees
    holes INSIDE a bucket's observed range: a bucket missing its edge
    rows attributes them to no bucket (document: pair with a global
    max-id check from the source side).

    One map-side-combinable aggregate keyed by bucket — no windows, no
    global sort, shuffles |ids|/bucket groups at any scale."""
    rows = events.select(F.col("event_id").alias("id"))
    if plant_residue is not None:
        rows = rows.filter(F.col("id") % bucket != plant_residue)
    return (
        rows.groupBy(F.expr(f"id div {int(bucket)}").alias("id_bucket"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("id").alias("first_id"),
            F.max("id").alias("last_id"),
        )
        .select(
            "id_bucket",
            "n_rows",
            "first_id",
            "last_id",
            F.expr("last_id - first_id + 1 - n_rows").alias("n_missing"),
        )
        .filter(F.col("n_missing") > 0)
        .orderBy("id_bucket")
    )


def id_density_audit_sql(
    src: str = "events",
    bucket: int = IDGAP_BUCKET,
    plant_residue: int | None = IDGAP_PLANT_RESIDUE,
) -> str:
    where = (
        f"WHERE event_id % {int(bucket)} != {int(plant_residue)}"
        if plant_residue is not None
        else ""
    )
    return f"""
        WITH b AS (
          SELECT event_id // {int(bucket)} AS id_bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_rows,
                 MIN(event_id) AS first_id,
                 MAX(event_id) AS last_id
          FROM {src} {where}
          GROUP BY 1
        )
        SELECT CAST(id_bucket AS BIGINT) AS id_bucket, n_rows,
               CAST(first_id AS BIGINT) AS first_id,
               CAST(last_id AS BIGINT) AS last_id,
               CAST(last_id - first_id + 1 - n_rows AS BIGINT) AS n_missing
        FROM b
        WHERE last_id - first_id + 1 - n_rows > 0
        ORDER BY id_bucket
    """


# ------------------------------------------- duplicate-charge audit
DUPCHARGE_WINDOW_S = 60


def duplicate_charge_audit(
    events: DataFrame, window_s: int = DUPCHARGE_WINDOW_S
) -> DataFrame:
    """Double-submit detector — the payments-ops audit for retried
    requests that billed twice: purchase events by the SAME user for
    the SAME cent amount within ``window_s`` seconds of each other.
    Self-join-free: one window partitioned by (user, cents) ordered by
    time, each row comparing against its predecessor — a k-fold burst
    of the same charge emits k-1 pair rows, never k^2/2.

    Gaps are exact microsecond bigints. Output: one row per suspect
    repeat with the gap, plus rollup-friendly per-row fields (the
    |suspects| table IS the case queue). Shape at scale: one shuffle
    on (user_id, cents) — the narrowest key that makes the lag
    meaningful — then a filter."""
    m = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    p = events.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        "user_id",
        "event_id",
        cents().alias("cents"),
        m.alias("_m"),
    )
    w = Window.partitionBy("user_id", "cents").orderBy("_m", "event_id")
    return (
        p.select(
            "user_id",
            "cents",
            "event_id",
            F.lag("event_id").over(w).alias("prev_event_id"),
            (F.col("_m") - F.lag("_m").over(w)).alias("gap_us"),
        )
        .filter(
            F.col("gap_us").isNotNull()
            & (F.col("gap_us") <= window_s * 1_000_000)
        )
        .orderBy("user_id", "cents", "event_id")
    )


def duplicate_charge_audit_sql(
    src: str = "events", window_s: int = DUPCHARGE_WINDOW_S
) -> str:
    return f"""
        WITH p AS (
          SELECT user_id, event_id,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                 epoch_us(ts) AS _m
          FROM {src}
          WHERE event_type = 'purchase' AND value IS NOT NULL
        ),
        lagged AS (
          SELECT user_id, cents, event_id,
                 LAG(event_id) OVER w AS prev_event_id,
                 _m - LAG(_m) OVER w AS gap_us
          FROM p
          WINDOW w AS (PARTITION BY user_id, cents ORDER BY _m, event_id)
        )
        SELECT user_id, cents, event_id, prev_event_id,
               CAST(gap_us AS BIGINT) AS gap_us
        FROM lagged
        WHERE gap_us IS NOT NULL AND gap_us <= {int(window_s) * 1_000_000}
        ORDER BY user_id, cents, event_id
    """


# ------------------------------------------- order-balance reconciliation
BALANCE_TOL_PPM = 5_000  # 0.5% relative tolerance


def order_balance_audit(
    orders: DataFrame, lineitem: DataFrame, tol_ppm: int = BALANCE_TOL_PPM
) -> DataFrame:
    """Books-vs-ledger reconciliation: does each order's header total
    equal the sum of its lines (extendedprice x (1-discount) x
    (1+tax))? The accounting-identity audit every ingest pipeline runs
    between a denormalized header and its detail table — mismatches
    localize partial loads, double-applied discounts, or drifted tax
    logic.

    Exact grid: all money in cents; the line formula is evaluated in
    cents x ppm x ppm then floor-scaled back (identical order of
    operations in both engines), and the relative diff is an exact ppm
    of the header total. Output: per diff-band (exact_match /
    within_tol / over / under) order counts and summed absolute drift.
    Shape: one lineitem aggregate, one keyed join, one 4-row rollup."""
    line = lineitem.select(
        "l_orderkey",
        F.expr(
            "CAST("
            " CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
            " * (1000000 - CAST(floor(l_discount * 1e6 + 0.5) AS BIGINT))"
            " div 1000000"
            " * (1000000 + CAST(floor(l_tax * 1e6 + 0.5) AS BIGINT))"
            " div 1000000 AS BIGINT)"
        ).alias("line_cents"),
    )
    derived = line.groupBy("l_orderkey").agg(
        F.sum("line_cents").alias("derived_cents")
    )
    hdr = orders.select(
        "o_orderkey",
        cents("o_totalprice").alias(
            "header_cents"
        ),
    )
    graded = (
        hdr.join(
            derived, F.col("o_orderkey") == F.col("l_orderkey"), "left"
        )
        .select(
            "header_cents",
            F.coalesce("derived_cents", F.lit(0)).alias("derived_cents"),
        )
        .withColumn(
            "_ad", F.abs(F.col("derived_cents") - F.col("header_cents"))
        )
        .withColumn(
            "band",
            F.expr(
                f"CASE WHEN derived_cents = header_cents THEN 'exact'"
                f" WHEN _ad * 1000000 <= header_cents * {int(tol_ppm)}"
                f" THEN 'within_tol'"
                f" WHEN derived_cents > header_cents THEN 'over'"
                f" ELSE 'under' END"
            ),
        )
    )
    return (
        graded.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("_ad").alias("abs_drift_cents"),
        )
        .orderBy("band")
    )


def order_balance_audit_sql(
    orders: str = "orders",
    lineitem: str = "lineitem",
    tol_ppm: int = BALANCE_TOL_PPM,
) -> str:
    return f"""
        WITH line AS (
          SELECT l_orderkey,
                 CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                      * (1000000 - CAST(floor(l_discount * 1e6 + 0.5)
                                        AS BIGINT)) // 1000000
                      * (1000000 + CAST(floor(l_tax * 1e6 + 0.5)
                                        AS BIGINT)) // 1000000
                      AS BIGINT) AS line_cents
          FROM {lineitem}
        ),
        derived AS (
          SELECT l_orderkey, SUM(line_cents) AS derived_cents
          FROM line GROUP BY 1
        ),
        graded AS (
          SELECT CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                   AS header_cents,
                 COALESCE(d.derived_cents, 0) AS derived_cents,
                 ABS(COALESCE(d.derived_cents, 0)
                     - CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                   AS _ad
          FROM {orders} o
          LEFT JOIN derived d ON o.o_orderkey = d.l_orderkey
        )
        SELECT CASE WHEN derived_cents = header_cents THEN 'exact'
                    WHEN _ad * 1000000 <= header_cents * {int(tol_ppm)}
                    THEN 'within_tol'
                    WHEN derived_cents > header_cents THEN 'over'
                    ELSE 'under' END AS band,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(_ad) AS BIGINT) AS abs_drift_cents
        FROM graded
        GROUP BY 1 ORDER BY 1
    """


# ------------------------------------------- k-anonymity utility sweep
KANON_SWEEP_KS = (2, 5, 10, 20, 50)


def kanon_utility_sweep(
    df: DataFrame,
    quasi_identifiers: Sequence[str],
    ks: Sequence[int] = KANON_SWEEP_KS,
) -> DataFrame:
    """The privacy-utility CURVE behind the k choice: for each
    candidate k, how many rows survive suppress-below-k release
    (every row in an equivalence class of size >= k) and what share of
    the table that is — the table a data-protection review actually
    negotiates over (k=5 keeps 97%? approved; k=50 keeps 40%? redesign
    the quasi-identifiers).

    ONE class-size aggregate feeds every k (the sweep is a |classes| x
    |ks| projection, not |ks| scans); shares are exact ppm of a 1-row
    total broadcast."""
    qi = [F.col(c) for c in quasi_identifiers]
    classes = df.groupBy(*qi).agg(
        F.count("*").cast("long").alias("class_size")
    )
    total = classes.agg(F.sum("class_size").alias("_tot"))
    kdf = local_table(df.sparkSession, [(int(k),) for k in ks], "k int")
    return (
        classes.crossJoin(F.broadcast(kdf))
        .groupBy("k")
        .agg(
            F.sum(
                F.when(
                    F.col("class_size") >= F.col("k"), F.col("class_size")
                ).otherwise(F.lit(0))
            ).alias("n_released"),
            F.sum(
                (F.col("class_size") >= F.col("k")).cast("long")
            ).alias("n_classes_released"),
            F.count("*").cast("long").alias("n_classes"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "k",
            F.col("n_released").cast("long").alias("n_released"),
            (F.col("_tot") - F.col("n_released"))
            .cast("long")
            .alias("n_suppressed"),
            "n_classes_released",
            "n_classes",
            F.expr("n_released * 1000000 div _tot").alias("released_ppm"),
        )
        .orderBy("k")
    )


def kanon_utility_sweep_sql(
    src: str,
    quasi_identifiers: Sequence[str],
    ks: Sequence[int] = KANON_SWEEP_KS,
) -> str:
    cols = ", ".join(quasi_identifiers)
    kvals = ", ".join(f"({int(k)})" for k in ks)
    return f"""
        WITH classes AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS class_size
          FROM {src} GROUP BY {cols}
        ),
        total AS (SELECT SUM(class_size) AS _tot FROM classes),
        swept AS (
          SELECT k.k,
                 SUM(CASE WHEN c.class_size >= k.k
                          THEN c.class_size ELSE 0 END) AS n_released,
                 CAST(SUM(CASE WHEN c.class_size >= k.k THEN 1 ELSE 0
                   END) AS BIGINT) AS n_classes_released,
                 CAST(COUNT(*) AS BIGINT) AS n_classes
          FROM classes c CROSS JOIN (VALUES {kvals}) k(k)
          GROUP BY 1
        )
        SELECT CAST(k AS INTEGER) AS k,
               CAST(n_released AS BIGINT) AS n_released,
               CAST(_tot - n_released AS BIGINT) AS n_suppressed,
               n_classes_released, n_classes,
               CAST(n_released * 1000000 // _tot AS BIGINT)
                 AS released_ppm
        FROM swept, total
        ORDER BY k
    """


# ------------------------------------------- functional-dependency audit
def fd_audit(df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """Functional-dependency audit — the schema-contract check behind
    "is A really a key for B?" (dimension conformance, denormalization
    safety, CDC key validation): for each claimed ``A -> B``, count the
    A values that map to MORE than one distinct B. Zero violators =
    the dependency holds and a join on A cannot fan out B; violators
    name exactly where a "one-to-one" assumption would corrupt a
    downstream merge.

    One combinable group per pair (groupBy A, exact COUNT(DISTINCT B))
    rolled to a single row per claim; at 100 TB swap the exact NDV for
    approx_count_distinct > 1 screening with exact confirm on the
    screened keys (the two-pass heavy-hitters discipline). NULL A
    values group like any other value (both engines agree); NULL B is
    ignored by the distinct count on both engines."""
    out = None
    for det, dep in pairs:
        per = df.groupBy(F.col(det).alias("_d")).agg(
            F.countDistinct(dep).alias("ndv")
        )
        row = (
            per.agg(
                F.count("*").alias("_n"),
                F.sum((F.col("ndv") > 1).cast("long")).alias("_v"),
                F.max("ndv").alias("_m"),
            )
            .select(
                F.lit(det).alias("determinant"),
                F.lit(dep).alias("dependent"),
                F.col("_n").cast("long").alias("n_det_values"),
                F.coalesce("_v", F.lit(0)).cast("long").alias("n_violating"),
                F.col("_m").cast("long").alias("max_dep_ndv"),
                F.expr(
                    "CASE WHEN coalesce(_v, 0) = 0 THEN 'holds'"
                    " ELSE 'violated' END"
                ).alias("verdict"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("determinant", "dependent")


def fd_audit_sql(src: str, pairs: list[tuple[str, str]]) -> str:
    parts = []
    for det, dep in pairs:
        parts.append(f"""
        SELECT '{det}' AS determinant, '{dep}' AS dependent,
               CAST(COUNT(*) AS BIGINT) AS n_det_values,
               CAST(COALESCE(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_violating,
               CAST(MAX(ndv) AS BIGINT) AS max_dep_ndv,
               CASE WHEN COALESCE(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END),
                         0) = 0
                    THEN 'holds' ELSE 'violated' END AS verdict
        FROM (
          SELECT {det} AS _d, COUNT(DISTINCT {dep}) AS ndv
          FROM {src} GROUP BY {det}
        ) g""")
    u = " UNION ALL ".join(parts)
    return f"SELECT * FROM ({u}) s ORDER BY determinant, dependent"


# ------------------------------------------------ schema-contract audit
def schema_contract_audit(
    df: DataFrame, contract: list[tuple[str, str]]
) -> DataFrame:
    """Data-contract enforcement — the publish gate that catches a
    producer's silent schema drift BEFORE a consumer job crashes or,
    worse, mis-reads: every contracted column is checked against the
    actual scan schema (present? same type?), and actual columns outside
    the contract are flagged as unexpected (the classic
    "someone added a PII column to the feed" alarm).

    Pure metadata — the parquet footer, no data scan at all (the whole
    point: the gate costs nothing at 100 TB). The oracle side encodes
    the CONTRACT as literals, so the comparison is Spark's actual
    schema vs the independently stated expectation."""
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    rows = []
    for name, typ in contract:
        if name not in actual:
            rows.append((name, typ, None, "missing"))
        elif actual[name] != typ:
            rows.append((name, typ, actual[name], "type_mismatch"))
        else:
            rows.append((name, typ, actual[name], "ok"))
    for name in actual:
        if name not in {c for c, _ in contract}:
            rows.append((name, None, actual[name], "unexpected"))
    return local_table(
        df.sparkSession,
        rows,
        "column string, expected_type string, actual_type string,"
        " status string",
    ).orderBy("column")


def schema_contract_audit_sql(
    contract: list[tuple[str, str]],
    actual: list[tuple[str, str]],
) -> str:
    """Oracle: the contract AND the independently-known fixture schema
    as literals — green means Spark's live footer read agrees with the
    stated contract."""
    actual_map = dict(actual)
    rows = []
    for name, typ in contract:
        if name not in actual_map:
            rows.append((name, typ, None, "missing"))
        elif actual_map[name] != typ:
            rows.append((name, typ, actual_map[name], "type_mismatch"))
        else:
            rows.append((name, typ, actual_map[name], "ok"))
    for name, typ in actual:
        if name not in {c for c, _ in contract}:
            rows.append((name, None, typ, "unexpected"))
    vals = ", ".join(
        "("
        + ", ".join("NULL" if v is None else f"'{v}'" for v in r)
        + ")"
        for r in rows
    )
    return f"""
        SELECT * FROM (VALUES {vals})
          t("column", expected_type, actual_type, status)
        ORDER BY "column"
    """


# --------------------------------------------- subject-access report
def subject_access_report(
    tables: list[tuple[str, DataFrame, str]], user_ids: list[int]
) -> DataFrame:
    """GDPR Article-15 subject-access report — the read side of the
    right-to-erasure pair (:func:`~.reconcile.forget_users` is the
    delete side): for each data subject, how many rows each table holds
    about them. The per-table scan is one combinable filtered aggregate
    (the IN-list pushes into the parquet scan); requested ids with no
    rows still appear with 0 so the report is complete evidence, not
    just a join hit list.

    ``tables``: (table_name, df, id_column) triples."""
    ids = [int(u) for u in user_ids]
    spine = local_table(
        tables[0][1].sparkSession,
        [(u, name) for u in ids for name, _, _ in tables],
        "user_id long, table_name string",
    )
    out = None
    for name, df, id_col in tables:
        agg = (
            df.filter(F.col(id_col).isin(ids))
            .groupBy(F.col(id_col).cast("long").alias("user_id"))
            .agg(F.count("*").alias("n_rows"))
            .withColumn("table_name", F.lit(name))
        )
        out = agg if out is None else out.unionByName(agg)
    return (
        spine.join(out, ["user_id", "table_name"], "left")
        .select(
            "user_id",
            "table_name",
            F.coalesce("n_rows", F.lit(0)).cast("long").alias("n_rows"),
        )
        .orderBy("user_id", "table_name")
    )


def subject_access_report_sql(
    tables: list[tuple[str, str]], user_ids: list[int]
) -> str:
    """``tables``: (table_name, id_column) over the fixture views."""
    ids_vals = ", ".join(f"({int(u)})" for u in user_ids)
    names_vals = ", ".join(f"('{n}')" for n, _ in tables)
    aggs = " UNION ALL ".join(
        f"""SELECT CAST({idc} AS BIGINT) AS user_id, '{n}' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM {n} WHERE {idc} IN ({", ".join(str(int(u)) for u in user_ids)})
            GROUP BY 1"""
        for n, idc in tables
    )
    return f"""
        WITH ids(user_id) AS (VALUES {ids_vals}),
        names(table_name) AS (VALUES {names_vals}),
        spine AS (SELECT user_id, table_name FROM ids CROSS JOIN names),
        counts AS ({aggs})
        SELECT s.user_id, s.table_name,
               CAST(COALESCE(c.n_rows, 0) AS BIGINT) AS n_rows
        FROM spine s LEFT JOIN counts c USING (user_id, table_name)
        ORDER BY user_id, table_name
    """


def benford_price_audit(df: "DataFrame", value_col: str) -> "DataFrame":
    """Benford's-law first-digit audit of a money column (Nigrini's
    fraud/data-quality screen; reference analogue: none — extension
    surface): the leading significant digit of naturally-occurring
    amounts should follow P(d) = log10(1 + 1/d), and a synthetic or
    truncated feed shows up as a fat chi-square.

    Distinct from the r5 :func:`benford_digit_audit` (kept above, the
    ``validate_benford_orders`` face): that one audits the floored
    INTEGER amount against the inlined e9 expected-share constants and
    reports all nine digits through a spine (zero-count digits
    included); this one takes the leading significant digit of the
    exact CENTS quantization (so sub-dollar amounts participate), pairs
    observed shares with ln()-derived expectations, and reports only
    observed digits.  Wave 49 originally shadowed the r5 name — the
    rename keeps both behaviors addressable.

    Determinism: amounts quantize to exact integer cents
    (``floor(v*100 + 0.5)``), the leading digit is the first character
    of the integer's decimal string (pure integer/string ops — no float
    log in the digit), and the expected shares use ln()/ln(10) — the
    BM25/Zipf cross-engine ln discipline — with one 6dp rounding at the
    edge. One map-side-combinable GROUP BY digit (9 groups), one 1-row
    totals broadcast: nothing data-sized crosses a window at any scale."""
    digits = (
        df.filter(F.col(value_col).isNotNull())
        .select(cents(value_col).alias("cents"))
        .filter(F.col("cents") > 0)
        .select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
    )
    counts = digits.groupBy("digit").agg(F.count("*").alias("n_d"))
    tot = counts.agg(F.sum("n_d").alias("n"))
    expected = F.expr("ln(1.0 + 1.0 / digit) / ln(10.0)")
    share = F.col("n_d").cast("double") / F.col("n").cast("double")
    chi2 = (
        F.col("n").cast("double")
        * (share - expected)
        * (share - expected)
        / expected
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.col("digit"),
            F.col("n_d").cast("long").alias("n_d"),
            F.round(share, 6).alias("share"),
            F.round(expected, 6).alias("expected_share"),
            F.round(chi2, 6).alias("chi2_contrib"),
        )
        .orderBy("digit")
    )


def benford_price_audit_sql(src: str, value_col: str) -> str:
    return f"""
        WITH digits AS (
          SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER)
                   AS digit
          FROM (
            SELECT CAST(floor({value_col} * 100 + 0.5) AS BIGINT) AS cents
            FROM {src} WHERE {value_col} IS NOT NULL
          ) WHERE cents > 0
        ),
        counts AS (
          SELECT digit, COUNT(*) AS n_d FROM digits GROUP BY digit
        ),
        tot AS (SELECT SUM(n_d) AS n FROM counts)
        SELECT digit,
               CAST(n_d AS BIGINT) AS n_d,
               ROUND(CAST(n_d AS DOUBLE) / CAST(n AS DOUBLE), 6) AS share,
               ROUND(ln(1.0 + 1.0 / digit) / ln(10.0), 6)
                 AS expected_share,
               ROUND(CAST(n AS DOUBLE)
                     * (CAST(n_d AS DOUBLE) / CAST(n AS DOUBLE)
                        - ln(1.0 + 1.0 / digit) / ln(10.0))
                     * (CAST(n_d AS DOUBLE) / CAST(n AS DOUBLE)
                        - ln(1.0 + 1.0 / digit) / ln(10.0))
                     / (ln(1.0 + 1.0 / digit) / ln(10.0)), 6)
                 AS chi2_contrib
        FROM counts CROSS JOIN tot
        ORDER BY digit
    """


# ----------------------------- local DP: randomized response release
RR_KEEP_P = 0.75  # probability a report keeps the true value
RR_SALT = "rr-v1"


def randomized_response_estimate(
    df: "DataFrame",
    group_col: str = "event_type",
    keep_p: float = RR_KEEP_P,
    salt: str = RR_SALT,
) -> "DataFrame":
    """Generalized randomized response with debiased share estimates
    (Warner 1965; the LOCAL-DP mechanism of RAPPOR-class telemetry —
    each row's category is perturbed BEFORE aggregation, so the
    collector never holds true rows; reference analogue: none,
    extension surface): with probability ``keep_p`` a row reports its
    true category, otherwise a uniform category from the k-value
    domain; the collector debiases observed shares via

        est_share = (obs_share − (1−p)/k) / p,

    unbiased for the true share (estimates can dip below 0 at small n —
    reported as-is, documented).  This is the row-level companion of
    :func:`dp_noisy_counts` (aggregate Laplace release): same seeded-
    randomness discipline and the same documented trade — a KNOWN salt
    is replayable, production rotates a secret one.

    Scale shape: one narrow per-row perturbation (two portable hashes),
    a broadcast k-row domain join for the uniform draw, and two
    map-side-combinable category aggregates; the domain index is
    derived by a |k|²-row self-join (no window at any scale).  Output
    per category: true/reported counts and true/estimated shares."""
    base = df.filter(F.col(group_col).isNotNull()).select(
        F.col("event_id").alias("_id"), F.col(group_col).alias("v")
    )
    from ..functions import stable_long_hash

    vals = base.select("v").distinct()
    t1, t2 = vals.alias("t1"), vals.alias("t2")
    types = (
        t1.join(t2, F.col("t2.v") < F.col("t1.v"), "left")
        .groupBy(F.col("t1.v").alias("v"))
        .agg(F.count(F.col("t2.v")).alias("idx"))
    )
    k_row = types.agg(F.count("*").alias("k"))
    u1 = (
        stable_long_hash(F.col("_id").cast("string"), salt=salt + ":keep")
        % 1_000_000
    ) / 1_000_000.0
    ridx = (
        stable_long_hash(F.col("_id").cast("string"), salt=salt + ":draw")
        % F.col("k")
    )
    perturbed = (
        base.crossJoin(F.broadcast(k_row))
        .select(
            "v",
            F.when(u1 < F.lit(float(keep_p)), F.lit(None).cast("long"))
            .otherwise(ridx)
            .alias("ridx"),
        )
        .join(
            F.broadcast(types.select(F.col("idx"), F.col("v").alias("rv"))),
            F.col("ridx") == F.col("idx"),
            "left",
        )
        .select("v", F.coalesce("rv", "v").alias("reported"))
    )
    truth = perturbed.groupBy("v").agg(F.count("*").alias("n_true"))
    obs = perturbed.groupBy(F.col("reported").alias("v")).agg(
        F.count("*").alias("n_reported")
    )
    tot = perturbed.agg(F.count("*").alias("n"))
    p = float(keep_p)
    est = (
        f"(CAST(n_reported AS DOUBLE) / n - (1 - {p!r}) / k) / {p!r}"
    )
    return (
        truth.join(obs, "v", "full")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(k_row))
        .select(
            F.col("v").alias(group_col),
            F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
            F.coalesce("n_reported", F.lit(0)).cast("long").alias(
                "n_reported"
            ),
            F.round(
                F.expr("CAST(COALESCE(n_true, 0) AS DOUBLE) / n"), 6
            ).alias("true_share"),
            F.round(
                F.expr(est.replace(
                    "n_reported", "COALESCE(n_reported, 0)"
                )), 6
            ).alias("est_share"),
        )
        .orderBy(group_col)
    )


def randomized_response_estimate_sql(
    src: str = "events",
    group_col: str = "event_type",
    keep_p: float = RR_KEEP_P,
    salt: str = RR_SALT,
) -> str:
    from ..functions import HASH60_DUCK_SQL

    h_keep = HASH60_DUCK_SQL.format(
        x=f"'{salt}:keep' || CAST(_id AS VARCHAR)"
    )
    h_draw = HASH60_DUCK_SQL.format(
        x=f"'{salt}:draw' || CAST(_id AS VARCHAR)"
    )
    p = float(keep_p)
    return f"""
        WITH base AS (
          SELECT event_id AS _id, {group_col} AS v FROM {src}
          WHERE {group_col} IS NOT NULL
        ),
        vals AS (SELECT DISTINCT v FROM base),
        types AS (
          SELECT t1.v, COUNT(t2.v) AS idx
          FROM vals t1 LEFT JOIN vals t2 ON t2.v < t1.v
          GROUP BY t1.v
        ),
        kk AS (SELECT COUNT(*) AS k FROM types),
        perturbed AS (
          SELECT b.v,
                 COALESCE(t.rv, b.v) AS reported
          FROM (
            SELECT v,
                   CASE WHEN (({h_keep}) % 1000000) / 1000000.0 < {p!r}
                        THEN NULL
                        ELSE ({h_draw}) % (SELECT k FROM kk) END AS ridx
            FROM base
          ) b
          LEFT JOIN (SELECT idx, v AS rv FROM types) t ON b.ridx = t.idx
        ),
        truth AS (SELECT v, COUNT(*) AS n_true FROM perturbed GROUP BY v),
        obs AS (
          SELECT reported AS v, COUNT(*) AS n_reported
          FROM perturbed GROUP BY reported
        ),
        tot AS (SELECT COUNT(*) AS n FROM perturbed)
        SELECT COALESCE(truth.v, obs.v) AS {group_col},
               CAST(COALESCE(n_true, 0) AS BIGINT) AS n_true,
               CAST(COALESCE(n_reported, 0) AS BIGINT) AS n_reported,
               ROUND(CAST(COALESCE(n_true, 0) AS DOUBLE) / n, 6)
                 AS true_share,
               ROUND((CAST(COALESCE(n_reported, 0) AS DOUBLE) / n
                      - (1 - {p!r}) / k) / {p!r}, 6) AS est_share
        FROM truth FULL JOIN obs ON truth.v = obs.v
        CROSS JOIN tot CROSS JOIN kk
        ORDER BY {group_col}
    """
