"""The ``registry`` workload: the declared queries, cold then warm.

It measures a fixed third of the registry (:func:`in_subset`): the
whole registry takes too long for the number of runs the benchmark
must fit. A closed loop of ``clients`` threads submits those queries:
the cold pass in name order, the warm passes in a seeded order. The
cold pass runs on an empty artifact store and collects each result,
which is then checked against the DuckDB oracle (or for rows, when the
query has no oracle) outside the timed pass. Warm passes reuse the
store the cold pass filled, execute through the noop sink, and follow
each other through the same loop until ``seconds`` have passed;
``warm_s`` is the warm wall per pass, counting a partial last pass for
its share.

A traced run adds, after the same cold pass, one untraced and one
traced warm pass: the difference of their walls is the tracing
overhead. Spans cover each query function, the artifact lookups inside
it, the Catalyst phases and the execution; job tags attribute Spark's
job, stage and task counts to the query and phase that started them.
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import gen
import tracing as tr

COVERAGE_TOL = 0.05  # layer self times must cover each query's wall to 5%


def in_subset(name: str) -> bool:
    """The measured third of the registry: a query is in it when the md5
    of its name is 0 modulo 3, so adding or removing one query never
    moves another in or out."""
    return int(hashlib.md5(name.encode()).hexdigest(), 16) % 3 == 0


def run(ctx) -> dict:
    from prueba_tecnica_analista_etl_spark.plans import REGISTRY, oracle_sql
    from tests.oracle_harness import _canon_rows, duckdb_con

    spark, tracer = ctx.spark, ctx.tracer
    sc = spark.sparkContext
    corpus = os.path.join(ctx.work, "corpus")
    t0 = time.perf_counter()
    gen.write_corpus(ctx.seed, corpus)
    gen_s = time.perf_counter() - t0
    names = sorted(n for n in REGISTRY if in_subset(n))
    order = random.Random(ctx.seed).sample(names, len(names))

    def one(name: str, phase: str, collect: bool) -> dict:
        spec = REGISTRY[name]
        res = {"name": name, "error": None, "rows": None}
        tag = f"{phase}:{name}"
        on = tracer.enabled
        if on:
            sc.addJobTag(f"plan|{tag}")
        t0 = time.perf_counter()
        try:
            with tracer.span("query", query=name, phase=phase):
                with tracer.span("plans.fn"):
                    df = spec.fn(spark, corpus)
                t1 = time.perf_counter()
                if on:
                    with tracer.span("trace.tags"):  # instrumentation, not a layer
                        sc.clearJobTags()
                        sc.addJobTag(f"exec|{tag}")
                    if phase == "warm":
                        with tracer.span("exec.catalyst") as c:
                            c["ms"] = tr.catalyst_ms(df)
                with tracer.span("exec.run"):
                    if collect:
                        res["rows"] = [tuple(r) for r in df.collect()]
                        res["cols"] = list(df.columns)
                    else:
                        df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            res["plan_ms"] = (t1 - t0) * 1e3
            res["exec_ms"] = (t2 - t1) * 1e3
        except Exception as e:  # counted and named, never skipped
            res["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            res["plan_ms"], res["exec_ms"] = (time.perf_counter() - t0) * 1e3, 0.0
        finally:
            if on:
                sc.clearJobTags()
        return res

    def run_loop(phase: str, order: list[str], collect: bool = False, min_s: float = 0.0):
        """Cycle through ``order`` with one closed loop of clients: a
        client takes the next query as soon as its last one returns, and
        no query starts once a whole pass has started and ``min_s`` has
        elapsed. Returns the wall per pass (the wall scaled by pass size
        over queries run, so a partial last pass counts for its share)
        and every query's result."""
        lock = threading.Lock()
        started = [0]
        results: list[dict] = []
        t0 = time.perf_counter()

        def take():
            with lock:
                if started[0] >= len(order) and time.perf_counter() - t0 >= min_s:
                    return None
                started[0] += 1
                return order[(started[0] - 1) % len(order)]

        def client():
            while (name := take()) is not None:
                results.append(one(name, phase, collect))

        with ThreadPoolExecutor(ctx.clients) as ex:
            for f in [ex.submit(client) for _ in range(ctx.clients)]:
                f.result()
        return (time.perf_counter() - t0) * len(order) / len(results), results

    # the cold pass always submits in name order: its wall then prices
    # the builds and queries, not where a seed put the longest builds
    cold_s, cold = run_loop("cold", names, collect=True)
    store_mb = tr.dir_bytes(os.environ["PTAE_ARTIFACT_DIR"]) / 1e6

    untraced = []
    if tracer.enabled:
        tracer.enabled = False
        untraced_s, untraced = run_loop("warm0", order)
        tracer.enabled = True
        warm_s, warm = run_loop("warm", order)
    else:
        warm_s, warm = run_loop("warm", order, min_s=ctx.seconds)

    # ---- output checks (outside every timed pass)
    t_check = time.perf_counter()
    oracle = oracle_sql()
    con = duckdb_con(corpus)
    failures = []
    for r in cold:
        name = r["name"]
        if r["error"]:
            failures.append({"op": f"cold:{name}", "why": r["error"]})
        elif name in oracle:
            rel = con.execute(oracle[name])
            d_cols = [c[0] for c in rel.description]
            d_rows = rel.fetchall()
            if sorted(r["cols"]) != sorted(d_cols):
                failures.append({"op": f"cold:{name}", "why": f"columns {sorted(r['cols'])} != oracle {sorted(d_cols)}"})
            elif _canon_rows(r["cols"], r["rows"]) != _canon_rows(d_cols, d_rows):
                failures.append({"op": f"cold:{name}", "why": f"values differ from the DuckDB oracle ({len(r['rows'])} vs {len(d_rows)} rows)"})
        elif not r["rows"]:
            failures.append({"op": f"cold:{name}", "why": "no rows"})
    con.close()
    for r in untraced + warm:
        if r["error"]:
            failures.append({"op": f"warm:{r['name']}", "why": r["error"]})
    attempted = len(cold) + len(untraced) + len(warm)
    check_s = time.perf_counter() - t_check

    lat = [r["plan_ms"] + r["exec_ms"] for r in warm]
    q = statistics.quantiles(lat, n=10, method="inclusive")
    per_query = {
        "cold": {r["name"]: {"plan_ms": r["plan_ms"], "exec_ms": r["exec_ms"]} for r in cold},
        "warm": {
            n: {
                k: statistics.median(r[k] for r in warm if r["name"] == n)
                for k in ("plan_ms", "exec_ms")
            }
            for n in order
        },
    }
    out = {
        "attempted": attempted,
        "failures": failures,
        "e2e": {
            "cold_s": (cold_s, "s"),
            "warm_s": (warm_s, "s"),
            "op_p50_ms": (statistics.median(lat), "ms"),
        },
        "named": {
            "cold_pass_s": (cold_s, "s"),
            "warm_pass_s": (warm_s, "s"),
            "query_p50_ms": (statistics.median(lat), "ms"),
            "query_p90_ms": (q[8], "ms"),
        },
        "per_query": per_query,
        "info": {
            "order": order,
            "warm_passes": len(warm) / len(order),
            "query_samples": len(lat),
            "store_mb": store_mb,
            "gen_s": gen_s,
            "check_s": check_s,
        },
    }
    if tracer.enabled:
        L = out["layers"] = _layers(ctx, warm_s, untraced_s, store_mb)
        gap = L["trace.coverage_gap"]
        out["info"]["coverage"] = {"gap": gap, "tolerance": COVERAGE_TOL, "ok": gap <= COVERAGE_TOL}
        if gap > COVERAGE_TOL:
            failures.append({"op": "trace:coverage", "why": f"layer self times miss {gap:.1%} of a query's wall (tolerance {COVERAGE_TOL:.0%})"})
        if L["artifacts.builds.warm"]:
            failures.append({"op": "artifacts:warm_build", "why": f"{L['artifacts.builds.warm']} artifact builds in the warm pass"})
    return out


def _layers(ctx, warm_s: float, untraced_s: float, store_mb: float) -> dict:
    spans = ctx.tracer.spans
    queries = {
        ph: [s for s in spans if s["name"] == "query" and s["phase"] == ph]
        for ph in ("cold", "warm")
    }
    children: dict[int, list] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def dur(s):
        return s["end"] - s["start"]

    def kids(q, name):
        return [c for c in children.get(q["id"], []) if c["name"] == name]

    def art_spans(ph):
        ids = {q["id"] for q in queries[ph]}
        by_id = {s["id"]: s for s in spans}
        out = []
        for s in spans:
            if not s["name"].startswith("artifacts."):
                continue
            p, outer = s["parent"], True
            while p is not None and p not in ids:
                if by_id[p]["name"].startswith("artifacts."):
                    outer = False
                p = by_id[p]["parent"]
            if p is not None:
                out.append((s, outer))
        return out

    L = {}
    fn = {ph: sum(dur(c) for q in queries[ph] for c in kids(q, "plans.fn")) for ph in queries}
    art = {ph: art_spans(ph) for ph in queries}
    art_outer = {ph: sum(dur(s) for s, o in art[ph] if o) for ph in queries}
    L["plans.build_s.warm"] = fn["warm"]
    L["plans.build_self_s.cold"] = fn["cold"] - art_outer["cold"]
    L["artifacts.lookups"] = sum(len(v) for v in art.values())
    L["artifacts.builds.cold"] = sum(1 for s, _ in art["cold"] if s["built"])
    # an outer build's time already holds the builds nested inside it
    L["artifacts.build_s.cold"] = sum(s.get("build_s", 0.0) for s, o in art["cold"] if o)
    L["artifacts.wait_s.cold"] = sum(dur(s) for s, o in art["cold"] if o and not s["built"])
    L["artifacts.builds.warm"] = sum(1 for s, _ in art["warm"] if s["built"])
    L["artifacts.hit_s.warm"] = art_outer["warm"]
    L["artifacts.store_mb"] = store_mb

    jobs = tr.job_stats(ctx.spark)
    execs = tr.executions_by_tag(jobs, "plan|")
    L["plans.eager_execs.cold"] = sum(v for t, v in execs.items() if t.startswith("plan|cold:"))
    L["plans.eager_execs.warm"] = sum(v for t, v in execs.items() if t.startswith("plan|warm:"))
    w = tr.sum_jobs([
        j for j in jobs
        if any(t.startswith(("plan|warm:", "exec|warm:")) for t in j["tags"])
    ])
    L["exec.run_s.warm"] = sum(dur(c) for q in queries["warm"] for c in kids(q, "exec.run"))
    L["exec.catalyst_ms.warm"] = sum(c["ms"] for q in queries["warm"] for c in kids(q, "exec.catalyst"))
    L.update(tr.exec_counts(w, warm_s, ctx.cpus))
    # self times of plans, artifacts and exec (plus the job-tag switch)
    # tile each query's wall
    gaps = []
    for q in queries["warm"] + queries["cold"]:
        covered = sum(dur(c) for c in children.get(q["id"], []))
        gaps.append(abs(1 - covered / dur(q)) if dur(q) > 0 else 0.0)
    L["trace.coverage_gap"] = max(gaps)
    L["trace.overhead_s"] = warm_s - untraced_s
    return L
