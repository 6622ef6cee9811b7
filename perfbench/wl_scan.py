"""scan: one client runs a seeded mix of Spark SQL templates over a DWRF
star schema; every result is checked against DuckDB over the generated
Arrow tables."""

from __future__ import annotations

import math
import os

N_FACT = 500_000
N_FILES = 4
STRIPES_PER_FILE = 4
N_DIM = 2_000


def _templates(fact):
    """name -> (params(rng) -> dict, sql format string, pushed filters).
    The filters are the ones Spark pushes into the dwrf source for the
    query; the traced run replays the scans with them."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        IsNotNull,
        LessThanOrEqual,
    )

    keys = fact.column("order_key")
    k_lo, k_hi = keys[0].as_py(), keys[-1].as_py()
    span = (k_hi - k_lo) // 200  # 0.5% of the key range: one stripe or two
    n_cust = max(1, fact.num_rows // 20)

    def between(col, lo, hi):
        return [IsNotNull((col,)), GreaterThanOrEqual((col,), lo), LessThanOrEqual((col,), hi)]

    return {
        "aggregate": (
            lambda rng: {},
            "SELECT status, count(*) AS n, sum(qty) AS q, sum(price) AS p, "
            "avg(discount) AS d, max(ship_day) AS s FROM fact GROUP BY status",
            lambda p: [("fact", [])],
        ),
        "key_range": (
            lambda rng: {"lo": int(rng.integers(k_lo, k_hi - span))},
            "SELECT count(*) AS n, sum(price) AS p, min(cust_id) AS c FROM fact "
            "WHERE order_key BETWEEN {lo} AND {lo} + " + str(span),
            lambda p: [("fact", between("order_key", p["lo"], p["lo"] + span))],
        ),
        "narrow": (
            lambda rng: {"c": int(rng.integers(0, n_cust))},
            "SELECT order_key, price FROM fact WHERE cust_id = {c}",
            lambda p: [("fact", [IsNotNull(("cust_id",)), EqualTo(("cust_id",), p["c"])])],
        ),
        "distinct": (
            lambda rng: {},
            "SELECT count(DISTINCT comment_key) AS n FROM fact",
            lambda p: [("fact", [])],
        ),
        "join": (
            lambda rng: {"a": int(rng.integers(0, 2557 - 180))},
            "SELECT d.region, count(*) AS n, sum(f.price) AS p FROM fact f "
            "JOIN dim d ON f.dim_id = d.dim_id "
            "WHERE f.ship_day BETWEEN {a} AND {a} + 180 GROUP BY d.region",
            lambda p: [
                ("fact", between("ship_day", p["a"], p["a"] + 180) + [IsNotNull(("dim_id",))]),
                ("dim", [IsNotNull(("dim_id",))]),
            ],
        ),
    }


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(
            float(a), float(b), rel_tol=1e-9, abs_tol=1e-6
        )
    return a == b


def _sort_key(row: tuple) -> tuple:
    # floats rounded so that engine-level summation noise cannot reorder rows
    return tuple(
        (x is None, type(x).__name__, round(x, 3) if isinstance(x, float) else x)
        for x in row
    )


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive row comparison, floats to 1e-9 relative."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return False
    return True


def run(ctx):
    import duckdb

    from hive_dwrf_spark.format.writer import write_arrow_table

    from perfbench import gen, replay, sparkctl
    from perfbench.common import Loop, Result, median, ratio

    with sparkctl.session(ctx) as spark:
        fact, dim = gen.star_schema(ctx.seed, N_FACT, N_DIM)
        dirs = {name: ctx.mkdir(name) for name in ("fact", "dim")}
        per = -(-N_FACT // N_FILES)
        for i in range(N_FILES):
            write_arrow_table(
                os.path.join(dirs["fact"], f"part-{i:02d}.dwrf"),
                fact.slice(i * per, per),
                stripe_rows=-(-per // STRIPES_PER_FILE),
            )
        write_arrow_table(os.path.join(dirs["dim"], "part-00.dwrf"), dim)
        duck = duckdb.connect()
        duck.register("fact", fact)
        duck.register("dim", dim)
        templates = _templates(fact)
        rng = gen.rng_for(ctx.seed, "ops")
        stored = replay.dir_bytes(dirs["fact"])
        total_stripes = {"fact": N_FILES * STRIPES_PER_FILE, "dim": 1}

        ctx.mark("inputs")
        tracer = ctx.tracer
        loop = Loop(ctx, sparkctl.Probe(spark) if tracer else None)
        blocks = {}
        if tracer:
            for name, d in dirs.items():
                for fn in sorted(os.listdir(d)):
                    p = os.path.join(d, fn)
                    for si, bl in enumerate(replay.compressed_blocks(p)):
                        blocks[(os.path.realpath(p), si)] = bl

        def attempt(item, op_id, out, traced):
            name, params = item
            _, sql_fmt, filters = templates[name]
            sql = sql_fmt.format(**params)
            scans = [table for table, _ in filters(params)]
            want = duck.sql(sql).fetchall()
            df_box = {}

            def build():
                # each query loads its tables, as the program's own query
                # functions do (see README: reusing one loaded view across
                # differently-filtered queries returns wrong rows)
                for table in scans:
                    spark.read.format("dwrf").load(dirs[table]).createOrReplaceTempView(table)
                return spark.sql(sql)

            def op():
                if not traced:
                    return build().collect()
                with tracer.span("driver.build"):
                    df = build()
                df_box["df"] = df
                with tracer.span("spark.action"):
                    return df.collect()

            def check(rows):
                return rows_match([tuple(r) for r in rows], want), N_FACT

            def after():
                if "df" in df_box:
                    for k, v in sparkctl.catalyst_phases(df_box["df"]).items():
                        loop.note(f"catalyst.{k}_ms", v)
                for table, fl in filters(params):
                    replay.replay_scan(tracer, dirs[table], fl)
                    loop.note("stripes_total", total_stripes[table])
                floor = 0.0
                for s in tracer.spans:
                    if s["op"] == op_id and s["name"] == "format.read_stripe":
                        a = s["attrs"]
                        if not a["pruned"]:
                            floor += replay.zlib_floor_s(
                                blocks[(os.path.realpath(a["file"]), a["stripe"])]
                            )
                loop.note("zlib_floor_ms", floor * 1e3)

            return op, check, after

        names = list(templates)

        def rounds():
            # whole shuffled rounds of the templates: every run sees each
            # template equally often
            while True:
                yield [
                    (names[i], templates[names[i]][0](rng))
                    for i in rng.permutation(len(names))
                ]

        # warm-up: the first round is ~3x a steady one (Python workers,
        # codegen, JIT); a second warm-up round measured no steadier
        warmup = [(name, templates[name][0](rng)) for name in names]
        loop.run(attempt, warmup, rounds(), replay.format_targets())

        out = _layers(tracer, loop) if tracer else {}
        info = {
            "spark": sparkctl.describe(spark),
            "fact": f"{fact.num_rows} rows x {fact.num_columns} cols, {N_FILES} files x "
            f"{STRIPES_PER_FILE} stripes, {stored} B on disk, {fact.nbytes} B decoded (Arrow)",
            "dim": f"{dim.num_rows} rows, {replay.dir_bytes(dirs['dim'])} B on disk",
        }
        for name in names:
            lats = [ms for (n, _), ms in loop.plain if n == name]
            info[f"template {name}"] = f"{len(lats)} ops, p50 {median(lats):.1f} ms"
        return Result(loop.log, loop.wall_s, loop.setup_s, ratio(stored, fact.nbytes), out, info)


def _layers(tracer, loop) -> dict:
    from perfbench import sparkctl
    from perfbench.common import median, ratio

    layers = loop.layers
    plans = tracer.by_name("format.read_stripe")
    decoded = sum(s["attrs"]["decoded_bytes"] for s in plans)
    stripe_s = sum(s["end"] - s["start"] for s in plans)
    plan_spans = tracer.by_name("sources.plan")
    out = {
        "driver.build_ms": median(tracer.durations_ms("driver.build")),
        "spark.action_ms": median(tracer.durations_ms("spark.action")),
        "sources.plan_ms": median(tracer.per_op_ms("sources.plan")),
        "sources.partitions_per_scan": ratio(
            sum(s["attrs"]["partitions"] for s in plan_spans), len(plan_spans)
        ),
        "sources.stripes_kept_ratio": ratio(
            sum(s["attrs"]["stripes_kept"] for s in plan_spans), sum(layers.get("stripes_total", []))
        ),
        "sources.read_partition_ms": median(tracer.per_op_ms("sources.read_partition")),
        "format.open_ms": median(tracer.durations_ms("format.open")),
        "format.read_stripe_ms": median(tracer.per_op_ms("format.read_stripe")),
        "format.decode_mb_per_s": ratio(decoded / 1e6, stripe_s),
        "format.zlib_floor_ms": median(layers.get("zlib_floor_ms", [])),
        **sparkctl.probe_layers(loop),
    }
    for k in ("analysis", "optimization", "planning"):
        out[f"catalyst.{k}_ms"] = median(layers.get(f"catalyst.{k}_ms", []))
    return out
