"""The ``etl-write`` workload: the write paths, one client.

One iteration runs three jobs into fresh output directories:

1. EP1 (``pipelines.flights.flights_pipeline``): read the two dirty
   CSVs, union, keep-first dedup, email and phone classification; the
   validated frame is written as parquet and the cleaned union as CSV.
2. The audited upsert (``operators.upsert.upsert_with_metrics``): the
   primary file, deduped keep-first, merged into the deduped secondary
   (the reference's base-subset-of-new shape), written as parquet.
3. The primary file again, cut into landing files and merged micro-batch
   by micro-batch through the ``streaming.upsert_sink.foreach_batch_upsert``
   callable; the reject rule is the engine's email check, so rows with
   an invalid email go to the dead-letter queue.

The first iteration is the cold one. Warm iterations follow until
``seconds`` have passed (at least one); the warm figures are medians
over them. Each iteration's outputs are checked against the counts the
generator computed, outside the timed jobs.

A traced run adds one traced iteration (spans, job tags) and one
attribution pass that materializes the EP1 steps one by one, so each
layer's time is the step's increment over the step before it.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import gen
import tracing as tr

# the reference's two deliveries: flights_10000.csv and flights_5000.csv
PRIMARY_ROWS = 10_000
SECONDARY_ROWS = 5_000
# the reference only designs its incremental load (watermarks, monitored
# folders) and gives no delivery size for it, so the count of pieces the
# primary file lands in is a placeholder: a micro-batch costs about the
# same at any size from 500 to 3,000 rows, and four pieces make a warm
# iteration last about the benchmark's ten seconds of measurement
LANDING_FILES = 4
MIN_ITERATIONS = 2  # the cold one and at least one warm one
COVERAGE_TOL = 0.05  # the traced spans must cover the iteration's wall to 5%


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from prueba_tecnica_analista_etl_spark.functions.validate import email_valid
    from prueba_tecnica_analista_etl_spark.operators.dedupe import (
        ROW_COL,
        SRC_COL,
        keep_first,
        tag_source_order,
    )
    from prueba_tecnica_analista_etl_spark.operators.upsert import upsert_with_metrics
    from prueba_tecnica_analista_etl_spark.pipelines.flights import flights_pipeline
    from prueba_tecnica_analista_etl_spark.sources.csv import (
        flights_schema,
        read_csv_repaired,
        write_csv,
    )
    from prueba_tecnica_analista_etl_spark.streaming.upsert_sink import (
        REJECTS,
        foreach_batch_upsert,
        read_control,
    )

    spark, tracer = ctx.spark, ctx.tracer
    sc = spark.sparkContext
    inputs = os.path.join(ctx.work, "inputs")
    fl = gen.write_flights(ctx.seed, inputs, PRIMARY_ROWS, SECONDARY_ROWS)
    land = gen.write_landing(fl, os.path.join(inputs, "landing"), LANDING_FILES)
    exp, lexp = fl["expect"], land["expect"]
    prim, sec = fl["paths"]["primary"], fl["paths"]["secondary"]
    schema = flights_schema()
    order = [F.asc(SRC_COL), F.asc(ROW_COL)]
    rules = {"bad_email": ~email_valid(F.col("Col_8"))}
    # EP1 and the upsert each read both CSVs; the landing files hold the primary's rows
    input_rows = 2 * (PRIMARY_ROWS + SECONDARY_ROWS) + PRIMARY_ROWS

    def tagged(job: str):
        if tracer.enabled:
            with tracer.span("trace.tags"):  # instrumentation, not a layer
                sc.clearJobTags()
                sc.addJobTag(f"etl|{job}")

    def iteration(i: int) -> dict:
        out = os.path.join(ctx.work, f"it{i}")
        res = {"errors": {}, "batch_ms": [], "target_bytes": 0}
        t0 = time.perf_counter()
        try:
            tagged("flights")
            with tracer.span("pipelines.flights_pipeline"):
                frames = flights_pipeline(spark, prim, sec, sep=";")
            with tracer.span("exec.flights_write"):
                frames["validated"].write.mode("overwrite").parquet(os.path.join(out, "silver"))
                write_csv(frames["export"], os.path.join(out, "export"))
        except Exception as e:
            res["errors"]["flights"] = f"{type(e).__name__}: {str(e)[:300]}"
        t1 = time.perf_counter()
        try:
            tagged("upsert")
            with tracer.span("operators.upsert_inputs"):
                base = keep_first(tag_source_order([read_csv_repaired(spark, sec, schema)]), ["Col_1"], order)
                new = tag_source_order([read_csv_repaired(spark, prim, schema)])
            with tracer.span("operators.upsert_with_metrics"):
                result, metrics = upsert_with_metrics(base, new, ["Col_1"], order)
            with tracer.span("operators.upsert_write"):
                result.write.mode("overwrite").parquet(os.path.join(out, "merged"))
            res["upsert"] = metrics
        except Exception as e:
            res["errors"]["upsert"] = f"{type(e).__name__}: {str(e)[:300]}"
        t2 = time.perf_counter()
        target = os.path.join(out, "target")
        try:
            with tracer.span("streaming.sink_build"):
                sink = foreach_batch_upsert(spark, target, ["Col_1"], rules=rules)
        except Exception as e:
            res["errors"]["sink"] = f"{type(e).__name__}: {str(e)[:300]}"
            sink = None
        for b, path in enumerate(land["files"]):
            if sink is None:
                res["errors"][f"batch{b}"] = "sink not built"
                continue
            tagged(f"batch{b}")
            with tracer.span("sources.landing_read"):
                batch = spark.read.schema(schema).parquet(path)
            tb = time.perf_counter()
            try:
                with tracer.span("streaming.sink_batch", batch=b):
                    sink(batch, b)
            except Exception as e:
                res["errors"][f"batch{b}"] = f"{type(e).__name__}: {str(e)[:300]}"
            res["batch_ms"].append((time.perf_counter() - tb) * 1e3)
            if tracer.enabled:
                with tracer.span("trace.bytes"):  # instrumentation, not a layer
                    res["target_bytes"] += tr.dir_bytes(target, skip=REJECTS)
        t3 = time.perf_counter()
        if tracer.enabled:
            sc.clearJobTags()
        res.update(flights_s=t1 - t0, upsert_s=t2 - t1, stream_s=t3 - t2, wall_s=t3 - t0,
                   start=t0, end=t3)
        res["failures"] = _check(res, out, target)
        return res

    def _check(res: dict, out: str, target: str) -> list[dict]:
        bad = [{"op": job, "why": why} for job, why in res["errors"].items()]
        if "flights" not in res["errors"]:
            got = {(r[0], r[1]): r[2] for r in spark.read.parquet(os.path.join(out, "silver"))
                   .groupBy("Email_Valido", "Telefono_Estado").count().collect()}
            want = {
                "survivors": exp["survivors"],
                "email_valid": exp["email_valid"],
                "phones": exp["phones"],
                "export_rows": exp["union_rows"],
            }
            seen = {
                "survivors": sum(got.values()),
                "email_valid": sum(v for (e, _), v in got.items() if e),
                "phones": {c: sum(v for (_, p), v in got.items() if p == c) for c in exp["phones"]},
                "export_rows": spark.read.option("header", True).csv(os.path.join(out, "export")).count(),
            }
            if seen != want:
                bad.append({"op": "flights", "why": f"got {seen}, expected {want}"})
        if "upsert" not in res["errors"]:
            want = {k: exp[k] for k in ("base_rows", "updates", "inserts", "result_rows")}
            seen = {k: res["upsert"][k] for k in want}
            seen["result_rows_written"] = spark.read.parquet(os.path.join(out, "merged")).count()
            want["result_rows_written"] = exp["result_rows"]
            if seen != want:
                bad.append({"op": "upsert", "why": f"got {seen}, expected {want}"})
        if not any(k.startswith(("batch", "sink")) for k in res["errors"]):
            ctrl = read_control(spark, target)
            last = ctrl.orderBy(F.desc("batch_id")).first() if ctrl is not None else None
            rej = os.path.join(target, REJECTS)
            seen = {
                "batches": ctrl.count() if ctrl is not None else 0,
                "target_rows": last["filas"] if last else 0,
                "dlq_rows": spark.read.parquet(rej).count() if os.path.isdir(rej) else 0,
            }
            want = {"batches": LANDING_FILES, **lexp}
            res["dlq_rows"] = seen["dlq_rows"]
            if seen != want:
                bad.append({"op": "stream", "why": f"got {seen}, expected {want}"})
        return bad

    def layers(it: dict, untraced_s: float) -> dict:
        spans = tracer.spans

        def total(name):
            return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

        jobs = tr.job_stats(spark)
        L = tr.exec_counts(
            tr.sum_jobs([j for j in jobs if any(t.startswith("etl|") for t in j["tags"])]),
            it["wall_s"], ctx.cpus,
        )
        L.update({
            "pipelines.flights_plan_ms": total("pipelines.flights_pipeline") * 1e3,
            "operators.upsert_audit_s": total("operators.upsert_with_metrics"),
            "operators.upsert_write_s": total("operators.upsert_write"),
            "streaming.batch_ms.max": max(it["batch_ms"]),
            "streaming.write_amp": it["target_bytes"] / land["bytes"],
            "streaming.rejects": it.get("dlq_rows", 0),
            "trace.overhead_s": it["wall_s"] - untraced_s,
        })
        # the top-level spans of the traced iteration tile its wall
        covered = sum(
            s["end"] - s["start"] for s in spans
            if s["parent"] is None and s["start"] >= it["start"] and s["end"] <= it["end"]
        )
        L["trace.coverage_gap"] = abs(1 - covered / it["wall_s"])
        # attribution: materialize the EP1 steps in order; each layer's
        # time is its step's increment over the step before it
        fr = flights_pipeline(spark, prim, sec, sep=";")
        t_union, t_dedup, t_valid, t_export = (
            _noop_s(fr[k]) for k in ("union", "deduped", "validated", "export")
        )
        t0 = time.perf_counter()
        write_csv(fr["export"], os.path.join(ctx.work, "attr-export"))
        L["sources.csv_read_s"] = t_union
        L["operators.dedup_s"] = t_dedup - t_union
        L["functions.validate_s"] = t_valid - t_dedup
        L["sources.csv_write_s"] = time.perf_counter() - t0 - t_export
        return L

    traced, tracer.enabled = tracer.enabled, False  # trace one extra iteration only
    its, t_end = [], None
    while len(its) < MIN_ITERATIONS or time.perf_counter() < t_end:
        its.append(iteration(len(its)))
        shutil.rmtree(os.path.join(ctx.work, f"it{len(its) - 1}"), ignore_errors=True)
        if t_end is None:  # the budget starts after the cold iteration
            t_end = time.perf_counter() + ctx.seconds

    warm = its[1:]
    failures = [{**f, "op": f"it{i}:{f['op']}"} for i, it in enumerate(its) for f in it["failures"]]
    attempted = len(its) * (3 + LANDING_FILES)
    warm_s = statistics.median(it["wall_s"] for it in warm)
    batches = [ms for it in warm for ms in it["batch_ms"]]
    out = {
        "attempted": attempted,
        "failures": failures,
        "e2e": {
            "cold_s": (its[0]["wall_s"], "s"),
            "warm_s": (warm_s, "s"),
            "op_p50_ms": (statistics.median(batches), "ms"),
        },
        "named": {
            "flights_etl_s": (statistics.median(it["flights_s"] for it in warm), "s"),
            "upsert_s": (statistics.median(it["upsert_s"] for it in warm), "s"),
            "merge_batch_p50_ms": (statistics.median(batches), "ms"),
            "etl_rows_per_s": (input_rows / warm_s, "rows/s"),
        },
        "per_query": {
            f"it{i}": {k: it[k] for k in ("flights_s", "upsert_s", "stream_s", "batch_ms")}
            for i, it in enumerate(its)
        },
        "info": {
            "iterations": len(its),
            "input_rows": input_rows,
            "batch_samples": len(batches),
            "csv_bytes": fl["bytes"],
            "landing_bytes": land["bytes"],
            "expect": {**exp, **lexp},
        },
    }
    if traced:
        tracer.enabled = True
        it = iteration(len(its))
        tracer.enabled = False
        L = out["layers"] = layers(it, warm_s)
        out["failures"] += [{**f, "op": f"traced:{f['op']}"} for f in it["failures"]]
        out["attempted"] += 3 + LANDING_FILES
        gap = L["trace.coverage_gap"]
        out["info"]["coverage"] = {"gap": gap, "tolerance": COVERAGE_TOL, "ok": gap <= COVERAGE_TOL}
        if gap > COVERAGE_TOL:
            out["failures"].append({"op": "trace:coverage", "why": f"spans miss {gap:.1%} of the traced iteration's wall (tolerance {COVERAGE_TOL:.0%})"})
    return out


def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0
