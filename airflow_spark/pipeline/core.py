"""Pipeline core: DAG declaration + synchronous driver execution.

Maps the reference's Airflow surface 1:1 (SURVEY.md §2.9):

- ``Pipeline(...)``        ↔ ``@dag(...)`` (O1: id, schedule, params,
  timeout, on_failure, catchup, tags)
- ``@pipeline.task(...)``  ↔ ``@task`` (O2) with ``depends_on`` edges
  (O3 ``a >> b``), per-task ``retries``/``retry_delay`` (O5) and the
  run-level wall-clock budget (O6 ``dagrun_timeout``)
- ``expand_over=``         ↔ dynamic task mapping ``.expand()`` (O4):
  one logical task applied per element of an upstream list, with
  per-element failure isolation (one stale key fails its element,
  others proceed; the task reports every violation, not just the
  first — SURVEY.md §7 hard-part 5)
- ``pipeline.run/test``    ↔ scheduled run / ``dag.test()`` (O10)
- failure → notifier (O9), profile guards (O12) via ``ctx.profile``

Heavy data stays in DataFrames inside task bodies; the driver only
topo-sorts, retries, and threads small values (the XCom analog) between
tasks. Evaluation time is an explicit injected ``run_ts`` — never
wall-clock inside task logic (SURVEY.md §7 hard-part 1).
"""

from __future__ import annotations

import datetime as dt
import logging
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from graphlib import TopologicalSorter
from typing import Any

from pyspark.sql import SparkSession

from .notifier import LogNotifier, Notifier

logger = logging.getLogger("airflow_spark.pipeline")


class TaskFailure(RuntimeError):
    """A task exhausted its retries."""


@dataclass
class Context:
    """Run context injected into every task (the Airflow ``params`` /
    ``Variable`` / XCom surface)."""

    spark: SparkSession
    run_id: str
    run_ts: dt.datetime
    params: dict[str, Any] = field(default_factory=dict)
    variables: dict[str, str] = field(default_factory=dict)
    profile: str = "dev"
    outputs: dict[str, Any] = field(default_factory=dict)
    #: set for expand_over elements: the element value
    map_element: Any = None
    #: pipeline name + state store, for cross-run XCom pulls
    pipeline: str = ""
    state_store: Any = None

    def var(self, key: str, default: str | None = None) -> str | None:
        """Variable.get analog (S5) with default."""
        return self.variables.get(key, default)

    def param(self, key: str, default: Any = None) -> Any:
        return self.params.get(key, default)

    def xcom(self, task_name: str) -> Any:
        """Output of an upstream task (XCom pull analog)."""
        return self.outputs[task_name]

    def xcom_prev(self, task_name: str, run_id: str | None = None, default=None):
        """Persisted output of ``task_name`` from a PRIOR run (cross-run
        XCom pull — the Airflow metadata-DB XCom analog). Requires the
        run to have a ``state_store``; the current run's outputs are not
        yet recorded, so "latest" is the previous completed run."""
        if self.state_store is None:
            return default
        return self.state_store.xcom_pull(
            self.pipeline, task_name, run_id=run_id, default=default
        )


@dataclass
class TaskDef:
    name: str
    fn: Callable[..., Any]
    depends_on: list[str] = field(default_factory=list)
    retries: int = 0
    retry_delay: float = 0.0
    expand_over: str | None = None
    when: Callable[[Context], bool] | None = None
    #: per-task wall-clock ceiling (reference: 3600 s task execution
    #: timeout, Dockerfile:38). Enforced by cancelling the task's Spark
    #: job group — running jobs are interrupted; pure-Python sections
    #: fail at their next Spark action.
    task_timeout_s: float | None = None
    #: retry only these exception types (None = retry everything).
    #: Deterministic failures (expectation violations, bad schema)
    #: should NOT burn retries — reference retries exist for transient
    #: HTTP faults (dags/DNS_Requests.py:13-17).
    retry_on: tuple[type, ...] | None = None
    #: named concurrency pool (Airflow pools analog): at most
    #: ``Pipeline(pools={name: N})`` tasks of a pool run at once —
    #: the "2 connections to that fragile API" limiter. None = only
    #: the global max_parallel_tasks cap applies.
    pool: str | None = None
    #: scheduling priority when more tasks are ready than slots
    #: (Airflow priority_weight): higher submits first; ties by name.
    priority: int = 0
    #: deferrable sensor (triggerer analog — the reference runs a
    #: dedicated triggerer service, compose.yml:109-127, so waits
    #: don't occupy worker slots): ``fn(ctx)`` BUILDS a zero-arg
    #: condition; the scheduler loop pokes it off the worker pool
    #: until truthy or ``sensor_timeout_s`` elapses.
    sensor: bool = False
    poke_interval_s: float = 30.0
    sensor_timeout_s: float = 600.0


@dataclass
class TaskResult:
    name: str
    status: str  # success | failed | skipped | upstream_failed
    attempts: int = 0
    error: str | None = None
    elapsed: float = 0.0
    #: per-element statuses for expanded tasks
    elements: list[dict] | None = None


@dataclass
class PipelineRun:
    run_id: str
    status: str
    tasks: dict[str, TaskResult]
    started: dt.datetime
    elapsed: float
    #: task outputs at end of run (XCom); JSON-serializable entries are
    #: persisted by RunStateStore.record_run for cross-run pulls
    outputs: dict[str, Any] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return self.status == "success"


@dataclass
class Param:
    """Typed, defaulted run parameter (O1 params — JSON-schema-ish)."""

    default: Any
    type: str = "string"  # integer | number | string | boolean
    description: str = ""

    _CASTS = {"integer": int, "number": float, "string": str}

    @staticmethod
    def _to_bool(value: Any) -> bool:
        # bool('false') is True — string-typed sources (CLI/config/env)
        # would silently invert flags without explicit parsing
        if isinstance(value, bool):
            return value
        if isinstance(value, str):
            v = value.strip().lower()
            if v in ("true", "1", "yes", "on"):
                return True
            if v in ("false", "0", "no", "off", ""):
                return False
            raise ValueError(f"param value {value!r} is not boolean")
        return bool(value)

    def resolve(self, value: Any) -> Any:
        if value is None:
            return self.default
        if self.type == "boolean":
            return self._to_bool(value)
        cast = self._CASTS.get(self.type)
        if cast is None:
            return value
        try:
            return cast(value)
        except (TypeError, ValueError) as e:
            raise ValueError(f"param value {value!r} is not {self.type}") from e


class Pipeline:
    """A named DAG of Spark tasks with driver-side orchestration."""

    def __init__(
        self,
        name: str,
        schedule: str | None = None,
        params: dict[str, Param] | None = None,
        timeout_s: float | None = None,
        default_retries: int = 0,
        default_retry_delay: float = 0.0,
        on_failure: Notifier | None = None,
        catchup: bool = False,
        tags: list[str] | None = None,
        description: str = "",
        max_parallel_tasks: int = 4,
        pools: dict[str, int] | None = None,
    ):
        self.name = name
        self.schedule = schedule
        self.params = params or {}
        self.timeout_s = timeout_s
        self.default_retries = default_retries
        self.default_retry_delay = default_retry_delay
        self.on_failure = on_failure or LogNotifier()
        self.catchup = catchup
        self.tags = tags or []
        self.description = description
        #: independent tasks run concurrently (LocalExecutor analog —
        #: Spark job submission is thread-safe; each task is a job)
        self.max_parallel_tasks = max(1, max_parallel_tasks)
        #: named concurrency pools (Airflow pools analog): pool name →
        #: max tasks of that pool in flight at once
        self.pools = {k: max(1, int(v)) for k, v in (pools or {}).items()}
        self.tasks: dict[str, TaskDef] = {}

    # -- declaration ------------------------------------------------------

    def task(
        self,
        fn: Callable[..., Any] | None = None,
        *,
        name: str | None = None,
        depends_on: list[str] | None = None,
        retries: int | None = None,
        retry_delay: float | None = None,
        expand_over: str | None = None,
        when: Callable[[Context], bool] | None = None,
        task_timeout_s: float | None = None,
        retry_on: tuple[type, ...] | None = None,
        pool: str | None = None,
        priority: int = 0,
    ):
        """Register a task. ``fn(ctx)`` (or ``fn(ctx, element)`` when
        ``expand_over`` names an upstream task whose output is a list).
        ``when`` is the conditional-pruning guard (P11). ``pool``
        names a shared concurrency slot set (declare sizes via
        ``Pipeline(pools={...})``); ``priority`` orders submission
        when ready tasks exceed free slots (higher first)."""

        def deco(f: Callable[..., Any]) -> Callable[..., Any]:
            tname = name or f.__name__
            if tname in self.tasks:
                raise ValueError(f"duplicate task name {tname!r}")
            deps = list(depends_on or [])
            if expand_over and expand_over not in deps:
                deps.append(expand_over)
            self.tasks[tname] = TaskDef(
                name=tname,
                fn=f,
                depends_on=deps,
                retries=self.default_retries if retries is None else retries,
                retry_delay=(
                    self.default_retry_delay if retry_delay is None else retry_delay
                ),
                expand_over=expand_over,
                when=when,
                task_timeout_s=task_timeout_s,
                retry_on=retry_on,
                pool=pool,
                priority=priority,
            )
            return f

        return deco(fn) if fn is not None else deco

    def sensor(
        self,
        fn: Callable[..., Any] | None = None,
        *,
        name: str | None = None,
        depends_on: list[str] | None = None,
        poke_interval_s: float = 30.0,
        timeout_s: float = 600.0,
        deferrable: bool = True,
        when: Callable[[Context], bool] | None = None,
        priority: int = 0,
    ):
        """Register a sensor: ``fn(ctx)`` is called once to BUILD a
        zero-arg condition (e.g. ``sensors.path_sensor(...)``); the
        engine then pokes it every ``poke_interval_s`` until truthy
        (the value becomes the task's output) or ``timeout_s`` burns
        (task fails with ``SensorTimeout``).

        ``deferrable=True`` (default) is the triggerer analog
        (reference compose.yml:109-127 runs a dedicated triggerer
        service): the wait parks in the scheduler loop and occupies NO
        worker slot or pool token, so a thousand waiting sensors don't
        starve real tasks. Conditions must therefore be control-plane
        cheap (listings, footer reads — what the built-ins do).
        ``deferrable=False`` pokes inside a worker slot (the classic
        blocking sensor), right when the condition itself is heavy.
        """

        def deco(f: Callable[..., Any]) -> Callable[..., Any]:
            tname = name or f.__name__
            if not deferrable:
                from . import sensors as _sensors

                def blocking(ctx, _f=f):
                    return _sensors.poke_until(
                        _f(ctx),
                        poke_interval_s=poke_interval_s,
                        timeout_s=timeout_s,
                    )

                blocking.__name__ = f.__name__
                self.task(
                    blocking, name=tname, depends_on=depends_on,
                    when=when, priority=priority,
                )
                return f
            if tname in self.tasks:
                raise ValueError(f"duplicate task name {tname!r}")
            self.tasks[tname] = TaskDef(
                name=tname,
                fn=f,
                depends_on=list(depends_on or []),
                when=when,
                priority=priority,
                sensor=True,
                poke_interval_s=poke_interval_s,
                sensor_timeout_s=timeout_s,
            )
            return f

        return deco(fn) if fn is not None else deco

    # -- execution --------------------------------------------------------

    def _topo_order(self) -> list[str]:
        ts = TopologicalSorter(
            {name: set(t.depends_on) for name, t in self.tasks.items()}
        )
        for name, t in self.tasks.items():
            for dep in t.depends_on:
                if dep not in self.tasks:
                    raise ValueError(f"task {name!r} depends on unknown {dep!r}")
        return list(ts.static_order())

    def _run_with_retries(
        self, t: TaskDef, call: Callable[[], Any], deadline: float | None
    ) -> tuple[Any, int]:
        attempts = 0
        while True:
            attempts += 1
            try:
                return call(), attempts
            except Exception as e:
                if t.retry_on is not None and not isinstance(e, t.retry_on):
                    raise  # non-retryable class: fail fast
                if attempts > t.retries:
                    raise
                if deadline is not None and time.monotonic() >= deadline:
                    raise
                logger.warning(
                    "task %s attempt %d/%d failed; retrying in %.1fs",
                    t.name, attempts, t.retries + 1, t.retry_delay,
                )
                if t.retry_delay:
                    time.sleep(t.retry_delay)

    def run(
        self,
        spark: SparkSession,
        params: dict[str, Any] | None = None,
        variables: dict[str, str] | None = None,
        run_ts: dt.datetime | None = None,
        profile: str = "dev",
        run_id: str | None = None,
        state_store=None,
        completed_outputs: dict[str, Any] | None = None,
    ) -> PipelineRun:
        """Execute the DAG synchronously (one Spark action per task).

        Failure semantics: a failed task (post-retries) marks all
        transitive dependents ``upstream_failed``, other branches keep
        running; the run is ``failed`` and the notifier fires once.

        ``completed_outputs``: tasks to treat as already succeeded
        (their persisted outputs are injected instead of re-running) —
        the mechanism behind :meth:`resume`.
        """
        run_ts = run_ts or dt.datetime.now(dt.timezone.utc)
        run_id = run_id or f"{self.name}__{run_ts.strftime('%Y%m%dT%H%M%S')}"
        resolved = {
            key: p.resolve((params or {}).get(key)) for key, p in self.params.items()
        }
        for key, val in (params or {}).items():
            if key not in resolved:
                resolved[key] = val
        ctx = Context(
            spark=spark,
            run_id=run_id,
            run_ts=run_ts,
            params=resolved,
            variables=variables or {},
            profile=profile,
            pipeline=self.name,
            state_store=state_store,
        )
        started = dt.datetime.now(dt.timezone.utc)
        t0 = time.monotonic()
        deadline = t0 + self.timeout_s if self.timeout_s else None
        results: dict[str, TaskResult] = {}
        failed_any = False
        first_error: str | None = None

        self._topo_order()  # validates the graph (cycles, unknown deps)
        for t in self.tasks.values():
            if t.pool is not None and t.pool not in self.pools:
                raise ValueError(
                    f"task {t.name!r} names pool {t.pool!r} but the "
                    f"pipeline declares pools {sorted(self.pools)} — an "
                    "undeclared pool would run UNCAPPED (declare it via "
                    "Pipeline(pools={...}))"
                )
        pending = set(self.tasks)
        for tname, val in (completed_outputs or {}).items():
            if tname in pending:
                results[tname] = TaskResult(tname, "success")
                ctx.outputs[tname] = val
                pending.discard(tname)
        running: dict = {}
        from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

        # ready-queue executor: independent tasks run concurrently up to
        # max_parallel_tasks (each task = one Spark job; submission is
        # thread-safe). Dependency/failure semantics identical to the
        # sequential form.
        #: deferred sensors parked off the worker pool (triggerer
        #: analog): name -> {check, deadline, next, t0, pokes}
        deferred: dict[str, dict] = {}
        with ThreadPoolExecutor(max_workers=self.max_parallel_tasks) as pool:
            while pending or running or deferred:
                # higher priority submits first; ties by name (Airflow
                # priority_weight semantics under a full executor)
                ready_order = sorted(
                    pending,
                    key=lambda n: (-self.tasks[n].priority, n),
                )
                pool_in_flight: dict[str, int] = {}
                for rt in running.values():
                    pn = self.tasks[rt].pool
                    if pn is not None:
                        pool_in_flight[pn] = pool_in_flight.get(pn, 0) + 1
                for tname in ready_order:
                    t = self.tasks[tname]
                    if not all(d in results for d in t.depends_on):
                        continue
                    if t.pool is not None and t.pool in self.pools:
                        if pool_in_flight.get(t.pool, 0) >= self.pools[t.pool]:
                            continue  # pool saturated: stays pending
                    bad_dep = next(
                        (
                            d
                            for d in t.depends_on
                            if results[d].status in ("failed", "upstream_failed")
                        ),
                        None,
                    )
                    if bad_dep is not None:
                        results[tname] = TaskResult(tname, "upstream_failed")
                        pending.discard(tname)
                        continue
                    if deadline is not None and time.monotonic() >= deadline:
                        results[tname] = TaskResult(
                            tname, "failed",
                            error="pipeline timeout budget exhausted",
                        )
                        failed_any = True
                        first_error = first_error or results[tname].error
                        pending.discard(tname)
                        continue
                    if t.when is not None and not t.when(ctx):
                        results[tname] = TaskResult(tname, "skipped")
                        ctx.outputs[tname] = None
                        pending.discard(tname)
                        continue
                    if (
                        t.expand_over
                        and t.expand_over in results
                        and results[t.expand_over].status == "skipped"
                    ):
                        # a when-guarded producer prunes its mapped
                        # dependent too (P11): the run must not fail
                        # just because the condition was false
                        results[tname] = TaskResult(tname, "skipped")
                        ctx.outputs[tname] = None
                        pending.discard(tname)
                        continue
                    if t.sensor:
                        # deferrable sensor: build the condition once
                        # and park it — consumes NO worker slot or pool
                        # token while waiting (triggerer semantics)
                        try:
                            check = t.fn(ctx)
                        except Exception as e:  # noqa: BLE001
                            results[tname] = TaskResult(
                                tname, "failed",
                                error=f"sensor build failed: {e}"[:500],
                            )
                            failed_any = True
                            first_error = first_error or results[tname].error
                            pending.discard(tname)
                            continue
                        now = time.monotonic()
                        deferred[tname] = {
                            "check": check,
                            "deadline": now + t.sensor_timeout_s,
                            "next": now,  # first poke immediately
                            "t0": now,
                            "pokes": 0,
                        }
                        pending.discard(tname)
                        continue
                    if len(running) >= self.max_parallel_tasks:
                        # never queue beyond free workers: FIFO queuing
                        # inside the executor would defeat the priority
                        # sort for tasks that become ready later — a
                        # freed slot must re-consult the sorted list
                        continue
                    running[pool.submit(self._exec_task, t, ctx, deadline)] = tname
                    if t.pool is not None:
                        pool_in_flight[t.pool] = (
                            pool_in_flight.get(t.pool, 0) + 1
                        )
                    pending.discard(tname)
                # poke due deferred sensors inline: the conditions are
                # control-plane cheap by contract, so one loop thread
                # multiplexes any number of waits (the triggerer model)
                now = time.monotonic()
                for tname in list(deferred):
                    d = deferred[tname]
                    t = self.tasks[tname]
                    if deadline is not None and now >= deadline:
                        results[tname] = TaskResult(
                            tname, "failed", attempts=d["pokes"],
                            error="pipeline timeout budget exhausted",
                        )
                        failed_any = True
                        first_error = first_error or results[tname].error
                        del deferred[tname]
                        continue
                    if now < d["next"]:
                        continue
                    d["pokes"] += 1
                    try:
                        got = d["check"]()
                    except Exception as e:  # noqa: BLE001
                        results[tname] = TaskResult(
                            tname, "failed", attempts=d["pokes"],
                            error=f"sensor poke raised: {e}"[:500],
                            elapsed=round(now - d["t0"], 3),
                        )
                        failed_any = True
                        first_error = first_error or results[tname].error
                        del deferred[tname]
                        continue
                    if got:
                        results[tname] = TaskResult(
                            tname, "success", attempts=d["pokes"],
                            elapsed=round(now - d["t0"], 3),
                        )
                        ctx.outputs[tname] = got
                        del deferred[tname]
                    elif now >= d["deadline"]:
                        results[tname] = TaskResult(
                            tname, "failed", attempts=d["pokes"],
                            error=(
                                f"SensorTimeout: condition not met within "
                                f"{t.sensor_timeout_s}s"
                            ),
                            elapsed=round(now - d["t0"], 3),
                        )
                        failed_any = True
                        first_error = first_error or results[tname].error
                        del deferred[tname]
                    else:
                        d["next"] = now + t.poke_interval_s
                if running:
                    timeout = 1.0
                    if deferred:
                        timeout = max(
                            0.02,
                            min(
                                [1.0]
                                + [d["next"] - now for d in deferred.values()]
                            ),
                        )
                    done, _ = wait(
                        set(running), return_when=FIRST_COMPLETED,
                        timeout=timeout,
                    )
                    for fut in done:
                        tname = running.pop(fut)
                        res = fut.result()
                        results[tname] = res
                        if res.status == "failed":
                            failed_any = True
                            first_error = first_error or res.error
                elif deferred:
                    # nothing running: sleep until the earliest next
                    # poke (bounded so new ready tasks aren't starved)
                    nxt = min(d["next"] for d in deferred.values())
                    time.sleep(max(0.0, min(nxt - time.monotonic(), 0.5)))

        status = "failed" if failed_any else "success"
        run = PipelineRun(
            run_id=run_id,
            status=status,
            tasks=results,
            started=started,
            elapsed=round(time.monotonic() - t0, 3),
            outputs=dict(ctx.outputs),
        )
        if failed_any:
            self.on_failure.notify(
                {
                    "pipeline": self.name,
                    "run_id": run_id,
                    "error": first_error or "task failure",
                    "tasks": {k: v.status for k, v in results.items()},
                }
            )
        if state_store is not None:
            state_store.record_run(self, run)
        return run

    def resume(
        self,
        spark: SparkSession,
        state_store,
        run_id: str,
        **run_kw: Any,
    ) -> PipelineRun:
        """Re-run a FAILED run, skipping tasks that already succeeded
        (Airflow's clear-and-rerun): successful tasks whose outputs
        were XCom-persisted are injected as completed; successes whose
        outputs were NOT persistable (DataFrames — heavy data belongs
        in table sinks) re-run, since a dependent may need the live
        object. Failed / upstream-failed / skipped tasks re-run.

        The resumed attempt gets ``<run_id>__r<N>`` so the state store
        keeps every attempt's record."""
        statuses = state_store.task_statuses(self.name, run_id)
        if not statuses:
            raise KeyError(f"no recorded run {run_id!r} for {self.name!r}")
        _SENTINEL = object()
        completed: dict[str, Any] = {}
        for tname, st in statuses.items():
            if st.get("status") != "success":
                continue
            val = state_store.xcom_pull(
                self.name, tname, run_id=run_id, default=_SENTINEL
            )
            if val is not _SENTINEL:
                completed[tname] = val
        attempt = 2
        new_id = f"{run_id}__r{attempt}"
        prior = set(state_store.run_ids(self.name))
        while new_id in prior:
            attempt += 1
            new_id = f"{run_id}__r{attempt}"
        return self.run(
            spark,
            run_id=new_id,
            state_store=state_store,
            completed_outputs=completed,
            **run_kw,
        )

    def _exec_task(self, t: TaskDef, ctx: Context, deadline) -> TaskResult:
        el_t0 = time.monotonic()
        if t.expand_over is not None:
            res = self._run_expanded(t, ctx, deadline)
        else:
            res = self._run_single(t, ctx, deadline)
        res.elapsed = round(time.monotonic() - el_t0, 3)
        return res

    def _call_with_task_timeout(self, t: TaskDef, ctx: Context, call):
        """Run one attempt under the per-task ceiling: tag this thread's
        Spark jobs with a job group and cancel the group on timeout
        (interrupting running executors)."""
        if t.task_timeout_s is None:
            return call()
        import threading

        sc = ctx.spark.sparkContext
        group = f"{self.name}.{t.name}.{ctx.run_id}"
        sc.setJobGroup(group, f"task {t.name}", interruptOnCancel=True)
        timed_out = threading.Event()
        finished = threading.Event()

        def _watchdog():
            if finished.wait(t.task_timeout_s):
                return
            timed_out.set()
            # cancel repeatedly: a one-shot cancel races with job
            # submission (a job that registers after the cancel would
            # survive it)
            while not finished.wait(0.5):
                sc.cancelJobGroup(group)

        watchdog = threading.Thread(target=_watchdog, daemon=True)
        watchdog.start()
        try:
            return call()
        except Exception as e:
            if timed_out.is_set():
                raise TaskFailure(
                    f"task exceeded task_timeout_s={t.task_timeout_s}"
                ) from e
            raise
        finally:
            finished.set()
            sc.setJobGroup("", "")

    def _run_single(self, t: TaskDef, ctx: Context, deadline) -> TaskResult:
        try:
            out, attempts = self._run_with_retries(
                t, lambda: self._call_with_task_timeout(t, ctx, lambda: t.fn(ctx)),
                deadline,
            )
            ctx.outputs[t.name] = out
            return TaskResult(t.name, "success", attempts=attempts)
        except Exception as e:  # noqa: BLE001 — task bodies may raise anything
            ctx.outputs[t.name] = None
            return TaskResult(
                t.name, "failed", attempts=t.retries + 1,
                error=f"{type(e).__name__}: {e}",
            )

    def _run_expanded(self, t: TaskDef, ctx: Context, deadline) -> TaskResult:
        """Dynamic mapping (O4) with per-element failure isolation: every
        element runs; the task fails with the full violation list."""
        source = ctx.outputs.get(t.expand_over)
        if source is None:
            return TaskResult(
                t.name, "failed",
                error=f"expand_over {t.expand_over!r} produced no list",
            )
        try:
            elements = list(source)
        except TypeError:
            # a non-iterable upstream output must fail THIS task (and
            # run the notifier/state-store path), not escape run()
            return TaskResult(
                t.name, "failed",
                error=(
                    f"expand_over {t.expand_over!r} produced "
                    f"non-iterable {type(source).__name__}"
                ),
            )
        el_results: list[dict] = []
        failures: list[str] = []
        outs = []
        for el in elements:
            try:
                out, attempts = self._run_with_retries(
                    t,
                    lambda el=el: self._call_with_task_timeout(
                        t, ctx, lambda: t.fn(ctx, el)
                    ),
                    deadline,
                )
                outs.append(out)
                el_results.append(
                    {"element": el, "status": "success", "attempts": attempts}
                )
            except Exception as e:  # noqa: BLE001
                el_results.append(
                    {
                        "element": el,
                        "status": "failed",
                        "error": f"{type(e).__name__}: {e}",
                    }
                )
                failures.append(f"{el!r}: {type(e).__name__}: {e}")
        ctx.outputs[t.name] = outs
        if failures:
            return TaskResult(
                t.name, "failed",
                error=f"{len(failures)}/{len(elements)} elements failed: "
                + "; ".join(failures[:5]),
                elements=el_results,
            )
        return TaskResult(t.name, "success", attempts=1, elements=el_results)

    def test(self, spark: SparkSession, **kwargs) -> PipelineRun:
        """dag.test() analog (O10): synchronous in-process run, no
        state store, no scheduler."""
        kwargs.pop("state_store", None)
        return self.run(spark, **kwargs)
