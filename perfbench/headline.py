"""``headline_batch``: the 19 registry headline queries on tables
generated from the seed, one pass in one session, in name order. Each
is built with ``q.spark(spark, sf_dir)`` and fetched with
``toPandas()``, the call ``tools/check.py`` makes, so every result is
checked against the DuckDB oracle without executing the query twice."""

from __future__ import annotations

import os
import re
import time

import common
import datagen
import oracle

# Pair-producing joins whose useful/attempted ratio is reported.
PAIR_JOINS = {
    "q127_spatial_proximity_join": "operators.q127",
    "q156_trajectory_radius_join": "operators.q156",
}
LSH_QUERY = "q41_minhash_lsh"
JOIN = re.compile(r"Join")


def _rows_out(nid, by_id: dict) -> float:
    """Output rows of node ``nid``, or of its nearest descendant that
    counts them (exchanges and codegen wrappers do not)."""
    todo = [nid]
    while todo:
        n = by_id.get(todo.pop(0))
        if n is None:
            continue
        if "number of output rows" in n["metrics"]:
            return n["metrics"]["number of output rows"]
        todo.extend(n["inputs"])
    return 0.0


def operator_counts(name: str, nodes: list[dict], result_rows: int, out: dict) -> None:
    """Useful-over-attempted counts for the pair joins and LSH verify.

    Spark evaluates q127's and q156's distance predicates inside the
    join, so the pairs a join tests are not exposed; the base is the
    cross product of the pair join's two inputs. For q41 the base is
    the rows the band-key join emits (candidate pairs, one per shared
    band) and the kept count is the verified result."""
    by_id = {n["id"]: n for n in nodes}
    joins = [n for n in nodes if JOIN.search(n["name"]) and "number of output rows" in n["metrics"]]
    if name in PAIR_JOINS and joins:
        j = max(joins, key=lambda n: n["metrics"]["number of output rows"])
        sides = [_rows_out(c, by_id) for c in j["inputs"]]
        base = sides[0] * sides[1] if len(sides) == 2 else 0.0
        kept = j["metrics"]["number of output rows"]
        p = PAIR_JOINS[name]
        out[f"{p}.pairs_kept"] = kept
        out[f"{p}.pairs_base"] = base
        out[f"{p}.pairs_kept_frac"] = kept / base if base else 0.0
    if name == LSH_QUERY and joins:
        cand = max(n["metrics"]["number of output rows"] for n in joins)
        out["operators.q41.lsh_candidates"] = cand
        out["operators.q41.lsh_verified"] = result_rows
        out["operators.q41.lsh_verified_frac"] = result_rows / cand if cand else 0.0


def warm_up(spark, sf_dir: str) -> None:
    """JVM warm-up on the code paths the headline queries live on:
    vectorized parquet scan, decimal hash aggregate and a shuffle join
    (the same warm-up bench.py runs)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.groupBy("l_returnflag").agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double")).collect()
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderstatus").count().collect()


def run(ctx) -> dict:
    sf_dir = ctx.run_dir.sub("sf0.1")
    datagen.write_tables(sf_dir, ctx.seed, 0.1)
    tr, layer = ctx.tracer, ctx.layer

    # shuffle partitions sized to the sf0.1 data, as bench.py does
    os.environ["SPARK_SHUFFLE_PARTITIONS"] = "8"
    t0 = time.time()
    with tr.span("session.get_spark"):
        from etl_everywhere_hub_spark.queries import headline_queries
        from etl_everywhere_hub_spark.session import get_spark

        spark = get_spark("perfbench-headline")
    layer["session.get_spark_s"] = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)
    ctx.setup_s = time.time() - t0

    queries = headline_queries()
    # A fixed order: the first query pays the rest of the JVM warm-up
    # (~2-4 s), and a seed-permuted order moved that cost onto a
    # different query each run.
    order = sorted(queries)
    sql = common.SqlMetrics(spark) if tr.enabled else None
    ex = common.ExecReader(spark, tr) if tr.enabled else None
    results, walls, errors = {}, {}, {}
    layer["queries.build_s"] = layer["queries.build_jobs"] = 0.0
    for name in order:
        q = queries[name]
        t = time.time()
        try:
            with tr.span("queries.build", req=name) as bsid:
                df = q.spark(spark, sf_dir)
            tb = tr0 = time.time()
            if tr.enabled:  # status-store reads stay outside the timed spans
                jobs0 = ex.jobs
                common.sum_stages(ex.collect(bsid, name), layer)
                layer["queries.build_jobs"] += ex.jobs - jobs0
                tr0 = time.time()
            with tr.span("queries.run", req=name) as rsid:
                results[name] = df.toPandas()
            te = time.time()
        except Exception as e:  # counted as a failed operation, never skipped
            errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
            spark.catalog.clearCache()
            continue
        walls[name] = (tb - t) + (te - tr0)
        layer["queries.build_s"] += tb - t
        layer[f"queries.{name}.wall_s"] = walls[name]
        if tr.enabled:
            common.sum_stages(ex.collect(rsid, name), layer)
            for phase, (ps, pe) in common.catalyst_phases(df._jdf).items():
                parent = bsid if ps < tb else rsid
                tr.add(f"plans.{phase}", ps, pe, parent, name)
                layer[f"plans.{phase}_ms"] = layer.get(f"plans.{phase}_ms", 0.0) + (pe - ps) * 1e3
            nodes = sql.since_last()
            operator_counts(name, nodes, len(results[name]), layer)
            common.sum_python(nodes, layer)
        spark.catalog.clearCache()
    ctx.spark = spark
    ctx.rss.stop()
    if tr.enabled:
        layer["exec.jobs"] = ex.jobs

    # -- checks (outside the timed region) --------------------------------
    mismatches = oracle.check_headline(sf_dir, {n: queries[n].oracle for n in results}, results)
    failed = set(errors) | set(mismatches)
    ctx.details.update({"order": order, "errors": errors, "mismatches": mismatches,
                        "query_wall_s": walls})
    total = sum(walls.values())
    ctx.attempted, ctx.failed = len(order), len(failed)
    ctx.correct = not failed
    # A batch user waits for the whole pass: one pass is one operation,
    # so its single latency sample is both percentiles. The median of
    # the 19 per-query times is no stable statistic: they have a gap
    # between ~1.0 s and ~1.4 s right at the middle, and the median
    # flips across it from seed to seed.
    ctx.e2e.update({
        "throughput_per_s": len(walls) / total if total else 0.0,
        "latency_p50_ms": total * 1e3,
        "latency_p99_ms": total * 1e3,
    })
    layer["queries.batch_total_s"] = total
    return {}
