"""Expectation operators (O11): data-quality gates as control flow.

The reference enforces correctness with inline ``raise``/``assert``
inside task bodies (e.g. dags/DNS_Requests.py:85-95,
dags/Speedtest.py:91-96, dags/Backups.py:95-101). Here the same
semantics are library operators over DataFrames: build a *violations*
DataFrame declaratively, and fail the task (→ retry → notify) if it is
non-empty. Violations are computed with ``isEmpty()``/``limit`` so the
check never materializes more than a sample.

A passing check still pays for every Spark job it launches, and a limit
that finds nothing runs more than one: Spark scans the first partition,
then the rest. Measured with ``expect_empty`` on ``local[4]``: 2 jobs
in 255–265 ms together (session medians) over a 4-partition
``createDataFrame`` of a Python list, 0 jobs (about 20 ms) over an
Arrow-backed ``LocalRelation`` (``sources.http.local_frame``), whose
filter and limit Catalyst folds on the driver. Most of the 589–653 ms
that the 2 jobs took before was Python-worker start-up, each task
re-reading ``pyspark.zip``; ``session.get_session`` now starts workers
from ``airflow_spark.pydaemon``, which skips that re-read.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


class ExpectationFailed(AssertionError):
    """A data-quality expectation failed; carries a violation sample."""

    def __init__(self, message: str, sample: list | None = None):
        self.sample = sample or []
        detail = f" sample={self.sample[:5]!r}" if self.sample else ""
        super().__init__(f"{message}{detail}")


def expect_empty(violations: DataFrame, message: str, sample_rows: int = 5) -> None:
    """Fail if the violations frame has any row (universal quantifier:
    'ALL rows satisfy P' ⇔ 'violations of P are empty' — A3 analog,
    dags/Backups.py:93-101)."""
    sample = violations.limit(sample_rows).collect()
    if sample:
        raise ExpectationFailed(message, [r.asDict() for r in sample])


def expect_nonempty(df: DataFrame, message: str) -> None:
    """Fail if empty (A5 analog: 'no devices configured' errors,
    dags/Speedtest.py:43-44, dags/Backups.py:48-49)."""
    if df.isEmpty():
        raise ExpectationFailed(message)


def expect_that(df: DataFrame, predicate: Column, message: str) -> None:
    """Fail unless every row satisfies ``predicate``."""
    expect_empty(df.where(~predicate), message)


def observed_write(
    df: DataFrame,
    checks: dict[str, "Column"],
    writer,
    message: str = "observed expectation failed",
) -> dict:
    """Zero-extra-pass validation: attach ``Observation`` metrics to
    ``df``, run the caller's action via ``writer(observed_df)`` (a
    write, collect, count — any single action), then assert every
    metric named ``expect_zero_*`` came back 0.

    The separate-job expectations above re-scan the input per check;
    this piggybacks the aggregates on the SAME pass Spark already makes
    for the action — the right shape when the action is a 100 TB write
    and a second scan doubles the job. Example::

        observed_write(
            out,
            {"expect_zero_null_keys": F.count_if(F.col("k").isNull()),
             "n_rows": F.count(F.lit(1))},
            lambda d: d.write.mode("overwrite").parquet(path),
        )
    """
    from pyspark.sql import Observation

    obs = Observation()
    writer(df.observe(obs, *[c.alias(n) for n, c in checks.items()]))
    got = obs.get
    bad = {
        n: v for n, v in got.items() if n.startswith("expect_zero_") and v not in (0, None)
    }
    if bad:
        raise ExpectationFailed(f"{message}: {bad}")
    return got


def expect_schema(df: DataFrame, required: dict[str, str], message: str = "") -> None:
    """Fail unless every required column exists with the given type
    (P6 analog: runtime key-presence validation,
    dags/DNS_Requests.py:63-75 — here enforced at the schema boundary)."""
    have = dict(df.dtypes)
    problems = {
        col: f"expected {typ}, have {have.get(col, 'MISSING')}"
        for col, typ in required.items()
        if have.get(col) != typ
    }
    if problems:
        raise ExpectationFailed(message or f"schema mismatch: {problems}")


def expect_plan_clean(
    df: DataFrame,
    allow: set[str] | frozenset[str] = frozenset(),
    execute: bool = False,
    message: str = "",
) -> None:
    """Fail when the frame's physical plan carries a scale-killer
    finding (plans/lint.py: cartesian product, global single-partition
    sort, row-at-a-time Python UDF, …) — the plan-shape analog of the
    data expectations above, for `Pipeline.test` / CI hooks so a
    regression fails the test run, not the 100 TB production run."""
    from ..plans.lint import lint_plan

    findings = [
        f for f in lint_plan(df, execute=execute) if f["code"] not in allow
    ]
    if findings:
        lines = "; ".join(
            f"[{f['severity']}] {f['code']}: {f['advice']}" for f in findings
        )
        raise ExpectationFailed(message or f"plan lint findings: {lines}")


def evaluate_rules(
    df: DataFrame, rules: list[tuple[str, Column]]
) -> DataFrame:
    """Declarative data-quality report: ``rules`` is a list of
    (rule_name, pass_predicate); returns one row per rule with the
    row counts that pass/violate it. ONE aggregation pass evaluates
    every rule (conditional sums — no per-rule scan), then a fixed
    rules×1 unpivot; at 100 TB the corpus is read once no matter how
    many rules are attached. NULL predicate results count as
    violations (unknown is not a pass).

    The reporting twin of ``expect_empty``: gate with expectations,
    monitor with a rules report."""
    from pyspark.sql import functions as F

    aggs = []
    for name, pred in rules:
        ok = F.coalesce(pred.cast("boolean"), F.lit(False))
        aggs.append(
            F.sum(F.when(ok, 1).otherwise(0)).cast("long").alias(f"__p_{name}")
        )
        aggs.append(
            F.sum(F.when(ok, 0).otherwise(1)).cast("long").alias(f"__v_{name}")
        )
    wide = df.agg(*aggs)
    # backtick-quote: a rule named 'v.positive' would otherwise parse
    # as a nested-field access and fail analysis
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col(f"`__p_{name}`").alias("n_pass"),
                F.col(f"`__v_{name}`").alias("n_violations"),
            )
            for name, _ in rules
        ]
    )
    return (
        wide.select(F.explode(pairs).alias("r"))
        .select("r.rule", "r.n_pass", "r.n_violations")
    )
