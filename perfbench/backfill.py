"""``backfill``: the reference's job as one batch, then the analysts' queries.

Measured phase, fixed by the run length (``Run.units``):

1. ``CYCLES_PER_UNIT`` cycles of ``convert_flowlogs(strict=False)`` over the
   seeded multi-shard gzip corpus, ``register_flowlog_table(partitions=keys)``
   and one pass of the Athena-style ``MIX`` over the new table;
2. one pass over the fixed catalog pool (``catalog_pool.txt``) on seeded
   tables, each query run ``REPEATS`` times to the noop sink with
   ``clearCache()`` between runs; a query counts once, with its best run.

Checks: rows per ``(dt, account)`` of every converted table equal the
generator's truth, every mix result equals DuckDB over the written Parquet,
every partition is registered, and every pool query matches its ``ORACLES``
entry under the catalog's exact rule (all outside the timed calls).
"""

from __future__ import annotations

import os
import random
import statistics
import time

import checks
import flowgen
import tablegen
from harness import LAYER_UNITS, Run, mean, overhead_share, p90, paired

LINES = 200_000
SHARDS = 4
DAYS = 2
WARM_LINES = 10_000
# one unit of work is about UNIT_S seconds on the reference host
UNIT_S = 20.0
CYCLES_PER_UNIT = 3
REPEATS = 2
MIX = {
    "top_talkers": (
        "SELECT srcaddr, dstaddr, SUM(bytes) AS total_bytes, COUNT(*) AS n_flows "
        "FROM {t} WHERE action = 'ACCEPT' GROUP BY srcaddr, dstaddr "
        "ORDER BY total_bytes DESC, srcaddr, dstaddr LIMIT 10"
    ),
    "reject_ratio": (
        "SELECT account, COUNT(*) AS n_flows, "
        "SUM(CASE WHEN action = 'REJECT' THEN 1 ELSE 0 END) AS n_rejects, "
        "CAST(SUM(CASE WHEN action = 'REJECT' THEN 1 ELSE 0 END) AS DOUBLE) "
        "/ COUNT(*) AS reject_ratio FROM {t} GROUP BY account"
    ),
    "day_rollup": (
        "SELECT account, protocol, action, SUM(bytes) AS total_bytes, "
        "SUM(packets) AS total_packets, COUNT(*) AS n_flows FROM {t} "
        "WHERE dt = '2024-03-02' GROUP BY account, protocol, action"
    ),
    "port_scans": (
        "SELECT COUNT(*) AS n_scanners FROM (SELECT srcaddr FROM {t} "
        "WHERE action = 'REJECT' AND dstport < 1024 GROUP BY srcaddr "
        "HAVING COUNT(DISTINCT dstport) >= 100) s"
    ),
}
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
    "MapInArrow", "MapInPandas", "PythonUDTF", "ArrowEvalPythonUDTF",
)


def load_pool() -> list[str]:
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "catalog_pool.txt")
    with open(path, encoding="utf-8") as fh:
        names = [ln.split("#")[0].strip() for ln in fh]
    return [n for n in names if n]


def _python_nodes(df) -> dict:
    """Python-worker operators in the physical plan, read before execution."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {"python_nodes": sum(plan.count(n) for n in PYTHON_NODES)}


def _convert_layers(attrs: dict, wall: float, lines: int, dst: str, rows: int) -> dict:
    stages = attrs.get("stages", [])
    write = [s for s in stages if s["output_bytes"]]
    other = [s for s in stages if not s["output_bytes"]]
    task_s = [t for s in write for t in s.get("task_s", [])]
    files = checks.parquet_files(dst)
    stored = sum(os.path.getsize(f) for f in files)
    return {
        "convert.wall_s": wall,
        "convert.n_jobs": attrs.get("n_jobs", 0),
        "convert.n_stages": attrs.get("n_stages", 0),
        "convert.n_tasks": attrs.get("n_tasks", 0),
        "convert.map_run_s": sum(s["run_s"] for s in other),
        "convert.map_cpu_s": sum(s["cpu_s"] for s in other),
        "convert.write_run_s": sum(s["run_s"] for s in write),
        "convert.write_cpu_s": sum(s["cpu_s"] for s in write),
        "convert.input_bytes": attrs.get("input_bytes", 0),
        "convert.shuffle_write_bytes": attrs.get("shuffle_write_bytes", 0),
        "convert.output_bytes": attrs.get("output_bytes", 0),
        "convert.output_files": len(files),
        "convert.spill_bytes": attrs.get("spill_bytes", 0),
        "convert.write_task_skew": max(task_s) / statistics.median(task_s) if task_s else 0.0,
        "convert.driver_s": attrs.get("driver_s", 0.0),
        "convert.rows_written_share": attrs.get("output_rows", 0) / lines,
        "convert.stored_bytes_per_row": stored / rows,
    }


def _table_query_layers(attrs: list[dict]) -> dict:
    return {
        "table_query.build_s": mean(a["build_s"] for a in attrs),
        "table_query.exec_s": mean(a["exec_s"] for a in attrs),
        "table_query.n_jobs": mean(a["build"].get("n_jobs", 0) + a["exec"].get("n_jobs", 0) for a in attrs),
        "table_query.input_bytes": mean(a["exec"].get("input_bytes", 0) for a in attrs),
        "table_query.input_rows": mean(a["exec"].get("input_rows", 0) for a in attrs),
    }


def _catalog_layers(attrs: list[dict], cores: int) -> dict:
    def both(key):
        return [a["build"].get(key, 0) + a["exec"].get(key, 0) for a in attrs]

    jobs, cpu = sum(both("n_jobs")), sum(both("cpu_s"))
    wall = sum(a["build_s"] + a["exec_s"] for a in attrs)
    return {
        "catalog.build_s": mean(a["build_s"] for a in attrs),
        "catalog.build_jobs": mean(a["build"].get("n_jobs", 0) for a in attrs),
        "catalog.exec_s": mean(a["exec_s"] for a in attrs),
        "catalog.exec_jobs": mean(a["exec"].get("n_jobs", 0) for a in attrs),
        "catalog.n_stages": mean(both("n_stages")),
        "catalog.n_tasks": mean(both("n_tasks")),
        "catalog.s_per_job": wall / jobs if jobs else 0.0,
        "catalog.executor_run_s": mean(both("run_s")),
        "catalog.executor_cpu_s": cpu / len(attrs),
        "catalog.cpu_util": cpu / (wall * cores),
        "catalog.shuffle_write_bytes": mean(both("shuffle_write_bytes")),
        "catalog.spill_bytes": mean(both("spill_bytes")),
        "catalog.python_plan_nodes": mean(a["python_nodes"] for a in attrs),
        "catalog.driver_s": mean(both("driver_s")),
    }


def backfill(run: Run) -> None:
    from aws_vpcflowlogs_parquet_spark.operators.convert import (
        convert_flowlogs,
        register_flowlog_table,
    )
    from aws_vpcflowlogs_parquet_spark.plans.catalog import ORACLES, QUERIES
    from aws_vpcflowlogs_parquet_spark.sources.tables import TABLE_NAMES, load_table

    r = run.result
    paths, truth = flowgen.write_corpus(run.path("in"), run.seed, LINES, SHARDS, days=DAYS)
    warm_paths, _ = flowgen.write_corpus(run.path("warm_in"), run.seed + 1, WARM_LINES, 1)
    tables = run.path("tables")
    tablegen.write_tables(tables, run.seed)
    pool = load_pool()
    run.log("staged")

    def warm(spark, i):
        dst = run.path("warm", str(i))
        keys = convert_flowlogs(spark, warm_paths, dst, strict=False)
        register_flowlog_table(spark, f"warm_{i}", dst, partitions=keys)
        spark.sql(MIX["top_talkers"].format(t=f"warm_{i}")).collect()
        for name in TABLE_NAMES:
            load_table(spark, tables, name)

    run.setup(warm)
    spark, tr = run.spark, run.tracer
    rng = random.Random(run.seed)

    outputs = []  # every converted table directory
    converts, registers, register_n, mix_lat, catalog_lat = [], [], [], [], []
    mix_by_name = {name: [] for name in MIX}
    convert_layers, mix_attrs, catalog_attrs, pairs = [], [], [], []
    results = []  # (table dir, query name, sql, rows)
    errored = set()

    def convert_once():
        dst = run.path("out", str(len(outputs)))
        outputs.append(dst)
        with tr.layer("convert") as s:
            t0 = time.perf_counter()
            keys = convert_flowlogs(spark, paths, dst, strict=False)
            wall = time.perf_counter() - t0
        return wall, keys, s.attrs, dst

    def catalog_once(name):
        try:
            return run.timed_query(
                "catalog",
                lambda: QUERIES[name](spark, tables),
                lambda df: df.write.format("noop").mode("overwrite").save(),
                _python_nodes if tr.enabled else None,
            )
        finally:
            spark.catalog.clearCache()

    units = run.units(UNIT_S)
    run.start_measuring()
    for cycle in range(CYCLES_PER_UNIT * units):
        plain, traced = paired(run, cycle, convert_once)
        wall, keys, _, dst = plain
        r.attempted += 1
        converts.append(wall)
        if traced is not None:
            pairs.append((wall, traced[0]))
            convert_layers.append(
                _convert_layers(traced[2], traced[0], truth.lines, traced[3], truth.valid)
            )
        table = f"flows_{cycle}"
        with tr.layer("register"):
            t0 = time.perf_counter()
            register_flowlog_table(spark, table, dst, partitions=keys)
            registers.append(time.perf_counter() - t0)
        r.attempted += 1
        register_n.append(len(keys))

        names = list(MIX)
        rng.shuffle(names)
        for name in names:
            sql = MIX[name].format(t=table)
            plain, traced = paired(
                run,
                len(mix_lat),
                lambda: run.timed_query(
                    "table_query", lambda: spark.sql(sql), lambda df: df.collect()
                ),
            )
            r.attempted += 1
            mix_lat.append(plain[0])
            mix_by_name[name].append(plain[0])
            if traced is not None:
                pairs.append((plain[0], traced[0]))
                mix_attrs.append(traced[2])
            results.append((dst, name, sql, [tuple(x) for x in plain[1]]))

    for _ in range(units):
        order = list(pool)
        rng.shuffle(order)
        for name in order:
            runs = []
            for _ in range(REPEATS):
                r.attempted += 1
                try:
                    # the overhead pairs come from the convert and mix calls
                    lat_s, _, attrs = catalog_once(name)
                except Exception as exc:  # noqa: BLE001 — a failed query is counted, not fatal
                    errored.add(name)
                    r.fail(f"{name}: raised {type(exc).__name__}: {str(exc)[:200]}")
                    break
                runs.append(lat_s)
                if run.traced:
                    catalog_attrs.append(attrs)
            if name not in errored:
                catalog_lat.append(min(runs))
    run.stop_measuring()

    # -- flow-log checks: partitions against the generator, mix against DuckDB
    expected = {}
    for dst in outputs:
        con = checks.duck_over_parquet(dst)
        if checks.rows_per_partition(con) != dict(truth.rows):
            r.fail(f"{dst}: rows per (dt, account) differ from the generator")
        for name, sql in MIX.items():
            res = con.execute(sql.format(t="flows"))
            expected[(dst, name)] = ([d[0] for d in res.description], res.fetchall())
        con.close()
    for dst, name, sql, rows in results:
        why = checks.same_result(spark.sql(sql).columns, rows, *expected[(dst, name)])
        if why:
            r.fail(f"{name} over {dst}: {why}")
    registered = spark.sql(f"SHOW PARTITIONS flows_{cycle}").count()
    if registered != len(truth.rows):
        r.fail(f"{registered} partitions registered, generator has {len(truth.rows)}")

    # -- catalog oracles, once per pool query
    con = checks.duck_over_tables(tables, TABLE_NAMES)
    for name in pool:
        if name in errored:
            continue
        try:
            df = QUERIES[name](spark, tables)
            rows = [tuple(x) for x in df.collect()]
            res = con.execute(ORACLES[name])
            why = checks.same_result(df.columns, rows, [d[0] for d in res.description], res.fetchall())
        except Exception as exc:  # noqa: BLE001 — reported as a failed check
            why = f"raised {type(exc).__name__}: {str(exc)[:200]}"
        spark.catalog.clearCache()
        if why:
            r.fail(f"{name}: {why}", units * REPEATS)
    con.close()
    run.log("checked")

    stored = sum(os.path.getsize(f) for f in checks.parquet_files(outputs[0]))
    ttq = [c + g for c, g in zip(converts, registers)]
    # each distinct query counts once, with its best run: the statistic
    # least moved by other tenants of a shared host
    lat = [min(v) for v in mix_by_name.values()] + catalog_lat
    r.report += [
        ("ingest_rows_per_s", truth.lines / statistics.median(converts), "rows/s", len(converts)),
        ("time_to_queryable_s", statistics.median(ttq), "s", len(ttq)),
        ("time_to_queryable_best_s", min(ttq), "s", len(ttq)),
        ("query_p50_s", statistics.median(lat), "s", len(lat)),
        ("query_p90_s", p90(lat), "s", len(lat)),
        ("mix_query_p50_s", statistics.median(mix_lat), "s", len(mix_lat)),
        ("catalog_query_p50_s", statistics.median(catalog_lat or [0.0]), "s", len(catalog_lat)),
        ("catalog_query_total_s", sum(catalog_lat) / units, "s", units),
    ]
    L = r.layers
    reg, parts = statistics.median(registers), statistics.median(register_n)
    layers = {
        "register.wall_s": reg,
        "register.n_partitions": parts,
        "register.s_per_partition": reg / parts,
    }
    if run.traced:
        for k in convert_layers[0]:
            layers[k] = mean(c[k] for c in convert_layers)
        layers.update(_table_query_layers(mix_attrs))
        if catalog_attrs:
            layers.update(_catalog_layers(catalog_attrs, spark.sparkContext.defaultParallelism))
        layers["trace.overhead_share"] = overhead_share(pairs)
    for k, v in layers.items():
        L[k] = (v, LAYER_UNITS[k])
    run.finish(lat, min(ttq), stored / truth.valid)
