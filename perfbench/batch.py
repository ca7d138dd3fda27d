"""Closed-loop batch workloads: one client issues the workload's queries
one after another, each as soon as the previous result is in hand.

A query's latency runs from the ``QueryDef.fn`` call to its result
collected to the client through Arrow.  In a closed loop a query is due
when it is issued, so its emit latency is the same number.  Each result
is checked against its DuckDB oracle after its timer stops.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass

import check
import engine
import gen
from stats import percentile
from tracing import overhead_outside_stages

#: The batch twins of the reference's Flink jobs.
REFERENCE_JOBS = (
    "hot_items_topn",
    "top_urls",
    "page_view_count",
    "unique_visitors",
    "unique_visitors_approx",
    "ad_clicks_by_province",
    "ad_blacklist_warnings",
    "ad_blacklist_passed",
    "app_marketing_by_channel",
    "app_marketing_total",
    "login_fail_detect",
    "login_fail_burst",
    "order_fulfillment_status",
    "tx_match",
)

#: Drawn from the frozen ``DRIVER50`` list of the repository's
#: ``bench.py``: its pattern, dedup, order-rollup and window families,
#: without the reference twins (they are ``reference_batch``).  One
#: memoised query, dedup_ngram_jaccard, builds its memo in the first
#: pass (about 4 s, the tail) and hits it in the later ones.  The other
#: memoised queries (ann_ivf_topk, ann_cosine_lsh_neardup: 8-11 s cold)
#: and the rest of the list are left out so that the session start and
#: four passes fit one run of under a minute.  Run by hand: its wall
#: times follow host CPU steal too closely to hold a regression bound.
INTERACTIVE = (
    "dedup_ngram_jaccard", "dedup_simhash",
    "pattern_optional_funnel", "pattern_guarded_optional_funnel",
    "pattern_clean_conversion", "pattern_funnel_3step",
    "sessionize_users", "event_last_order_asof", "region_revenue",
    "windowed_value_quantiles",
)

#: A memoised query run twice after the reference jobs, a memo build
#: and then a hit, so that the cache layer is measured on the
#: executor-bound workload too.
MEMO_QUERY = "dedup_ngram_jaccard"

#: Oracle-less approximate queries checked against an exact twin:
#: name -> (exact twin, key columns, estimate column, per-key relative
#: tolerance, per-key absolute slack, tolerance on the summed error).
#: HyperLogLog++ at rsd 0.01 misses a window of a few dozen distinct
#: users by whole counts (up to 2 over 12 seeds, 6% of such a window),
#: so a key may be off by its slack; the error summed over all keys
#: stayed under 0.6% of the exact total.
APPROX_TWINS = {
    "unique_visitors_approx": ("unique_visitors", ("ws", "we"), "uv", 0.05, 3, 0.02)
}

FIRST_QUERY = "page_view_count"


@dataclass(frozen=True)
class BatchWorkload:
    queries: tuple[str, ...]
    events: gen.EventSpec
    #: ``--seconds`` buys ``round(seconds / pass_seconds)`` passes (at
    #: least one): a fixed amount of work, whatever the host's speed
    pass_seconds: float
    #: issue the queries in a seed-shuffled order (an interactive user),
    #: else in the fixed order of ``queries`` (a scheduled job list)
    shuffle: bool

    def passes(self, seconds: float) -> int:
        return max(1, round(seconds / self.pass_seconds))


WORKLOADS = {
    "reference_batch": BatchWorkload(
        REFERENCE_JOBS + (MEMO_QUERY, MEMO_QUERY),
        gen.EventSpec(rows=50_000, users=5_000),
        pass_seconds=10.0,
        shuffle=False,
    ),
    "interactive_mix": BatchWorkload(
        INTERACTIVE, gen.EventSpec(rows=10_000, users=150), pass_seconds=3.0, shuffle=True
    ),
}


class _Checker:
    """Compares each collected result with its oracle (computed once
    per query); oracle-less queries must repeat their first result and,
    where an exact twin exists, stay within tolerance of it."""

    def __init__(self, sf_dir: str, queries):
        self.con = check.oracle_connection(sf_dir)
        self.queries = queries
        self.oracle: dict[str, tuple] = {}
        self.first: dict[str, list] = {}
        self.errors: list[str] = []

    def _oracle(self, name: str):
        if name not in self.oracle:
            self.oracle[name] = check.oracle_rows(self.con, self.queries[name].oracle)
        return self.oracle[name]

    def verify(self, name: str, got) -> bool:
        if self.queries[name].oracle is not None:
            reason = check.mismatch(got, self._oracle(name))
        else:
            reason = self._verify_approx(name, got)
        if reason:
            self.errors.append(f"{name}: {reason}")
        return reason is None

    def _verify_approx(self, name: str, got) -> str | None:
        rows = check.normalized_rows(*got)
        if name not in self.first:
            self.first[name] = rows
        elif rows != self.first[name]:
            return "approximate result changed between executions"
        if name not in APPROX_TWINS:
            return None
        twin, keys, est, tol, slack, total_tol = APPROX_TWINS[name]
        (g_cols, g_rows), (w_cols, w_rows) = got, self._oracle(twin)
        return approx_mismatch(
            by_key(g_cols, g_rows, keys, est), by_key(w_cols, w_rows, keys, est),
            tol, slack, total_tol,
        )


def by_key(cols: list[str], rows, keys, est: str) -> dict:
    ki = [cols.index(k) for k in keys]
    return {tuple(r[i] for i in ki): r[cols.index(est)] for r in rows}


def approx_mismatch(approx: dict, exact: dict, tol: float, slack: float,
                    total_tol: float) -> str | None:
    """None when every estimate is within ``tol * exact + slack`` of its
    exact value and the summed absolute error is within ``total_tol``
    of the exact total, else a one-line reason."""
    if approx.keys() != exact.keys():
        return "keys differ from the exact twin"
    errors = {k: abs(approx[k] - v) for k, v in exact.items()}
    bad = [k for k, v in exact.items() if errors[k] > tol * v + slack]
    if bad:
        return f"{len(bad)} keys off, e.g. {bad[0]}: {approx[bad[0]]} vs {exact[bad[0]]}"
    total = sum(errors.values()) / max(sum(exact.values()), 1)
    return None if total <= total_tol else f"summed error {total:.4f} > {total_tol}"


def _run_query(spark, qd, sf_dir: str, qid: str, tracer):
    """Returns (collected Arrow table, assembly seconds, wall seconds,
    materialisation (start, end) in epoch seconds)."""
    sc = spark.sparkContext
    if tracer is None:
        t0 = time.perf_counter()
        df = qd.fn(spark, sf_dir)
        t1 = time.perf_counter()
        table = df.toArrow()
        t2 = time.perf_counter()
        return table, t1 - t0, t2 - t0, None
    with tracer.span("query", query=qid):
        sc.setJobGroup(f"{qid}:plan", qid)
        t0 = time.perf_counter()
        with tracer.span("plans.assembly"):
            df = qd.fn(spark, sf_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(f"{qid}:exec", qid)
        with tracer.span("exec.materialize") as mat:
            table = df.toArrow()
        t2 = time.perf_counter()
    sc.setLocalProperty("spark.jobGroup.id", None)
    return table, t1 - t0, t2 - t0, (mat["start"], mat["end"])


def run(name: str, seed: int, seconds: float, work: str, tracer) -> dict:
    wl = WORKLOADS[name]
    sf_dir = gen.write_sf_dir(os.path.join(work, "sf"), wl.events, seed)
    order = list(wl.queries)
    if wl.shuffle:
        random.Random(seed).shuffle(order)

    t0 = time.perf_counter()
    spark, session_s = engine.start_session(tracer)
    from flinkecuserbehavioranalysis_spark.plans.queries import QUERIES

    QUERIES[FIRST_QUERY].fn(spark, sf_dir).toArrow()
    setup_s = time.perf_counter() - t0

    checker = _Checker(sf_dir, QUERIES)
    if tracer is not None:
        session_s = tracer.total("session.start")
        tracer.mark()
    walls: list[float] = []
    pass_times: list[float] = []
    layer = _LayerTotals() if tracer is not None else None
    attempted = failed = 0
    n_pass = wl.passes(seconds)
    for i_pass in range(n_pass):
        pass_time = 0.0
        for qname in order:
            attempted += 1
            qid = f"{qname}#{i_pass}"
            try:
                table, assembly, wall, mat = _run_query(
                    spark, QUERIES[qname], sf_dir, qid, tracer
                )
            except Exception as exc:  # a failed query counts, the loop goes on
                failed += 1
                checker.errors.append(f"{qname}: {type(exc).__name__}: {exc}"[:300])
                continue
            walls.append(wall)
            pass_time += wall
            if not checker.verify(qname, check.arrow_rows(table)):
                failed += 1
            if layer is not None:
                layer.add_query(tracer, spark, qid, assembly, wall, mat)
        pass_times.append(pass_time)
        if layer is not None:
            layer.storage_mb = max(layer.storage_mb, tracer.storage_mb(spark))
    if layer is not None:
        layer_metrics = layer.metrics(tracer, n_pass, session_s)

    # an oracle-less query seen once is executed again, untimed, so its
    # result is compared across two executions
    for qname in order:
        if QUERIES[qname].oracle is None and n_pass == 1:
            attempted += 1
            try:
                got = check.arrow_rows(QUERIES[qname].fn(spark, sf_dir).toArrow())
                failed += not checker.verify(qname, got)
            except Exception as exc:
                failed += 1
                checker.errors.append(f"{qname}: {type(exc).__name__}: {exc}"[:300])

    result = {
        "attempted": attempted,
        "failed": failed,
        "errors": checker.errors,
        "passes": n_pass,
        "e2e": {
            "setup_s": setup_s,
            "pass_s": percentile(pass_times, 50),
            "query_p50_s": percentile(walls, 50),
            "query_p90_s": percentile(walls, 90),
            "emit_latency_p50_s": percentile(walls, 50),
            "emit_latency_p90_s": percentile(walls, 90),
        },
    }
    if layer is not None:
        result["layer"] = {**layer_metrics, "mem.peak_rss_mb": engine.peak_rss_mb()}
    return result


class _LayerTotals:
    """Per-query layer numbers of a traced run, summed over passes."""

    def __init__(self) -> None:
        self.sums: dict[str, float] = {}
        self.skews: list[float] = []
        self.storage_mb = 0.0

    def _add(self, key: str, value: float) -> None:
        self.sums[key] = self.sums.get(key, 0.0) + value

    def add_query(self, tracer, spark, qid: str, assembly: float, wall: float, mat) -> None:
        plan = tracer.exec_profile(spark, f"{qid}:plan")
        ex = tracer.exec_profile(spark, f"{qid}:exec")
        self._add("wall", wall)
        self._add("plans.assembly_s", assembly)
        self._add("plans.eager_jobs", plan["jobs"])
        self._add("exec.jobs", ex["jobs"])
        for key in ("stages", "tasks", "executor_run_s", "input_mb",
                    "shuffle_write_mb", "shuffle_read_mb"):
            self._add(f"exec.{key}", plan[key] + ex[key])
        self._add("exec.overhead_s", overhead_outside_stages(mat, ex["stage_intervals"]))
        self.skews.append(max(plan["task_skew"], ex["task_skew"]))

    def metrics(self, tracer, n_pass: int, session_s: float) -> dict:
        per_pass = {k: v / n_pass for k, v in self.sums.items()}
        c = tracer.counters
        pins = c["cache.pin_calls"]
        return {
            "session.start_s": session_s,
            "plans.assembly_s": per_pass["plans.assembly_s"],
            "plans.assembly_share": self.sums["plans.assembly_s"] / self.sums["wall"],
            "plans.eager_jobs": per_pass["plans.eager_jobs"],
            "io.load_table_calls": c["io.load_table_calls"] / n_pass,
            "io.load_table_s": tracer.total("io.load_table") / n_pass,
            "cache.pin_calls": pins / n_pass,
            "cache.hit_ratio": c["cache.hits"] / pins if pins else 0.0,
            "cache.build_s": tracer.total("cache.build") / n_pass,
            "cache.evictions": c["cache.evictions"] / n_pass,
            "cache.storage_mb": self.storage_mb,
            "exec.jobs": per_pass["exec.jobs"],
            "exec.stages": per_pass["exec.stages"],
            "exec.tasks": per_pass["exec.tasks"],
            "exec.overhead_s": per_pass["exec.overhead_s"],
            "exec.executor_run_s": per_pass["exec.executor_run_s"],
            "exec.input_mb": per_pass["exec.input_mb"],
            "exec.shuffle_write_mb": per_pass["exec.shuffle_write_mb"],
            "exec.shuffle_read_mb": per_pass["exec.shuffle_read_mb"],
            "exec.task_skew": percentile(self.skews, 50),
        }
