"""ingest: one client; each op writes one seeded batch from its parquet
source through ``df.write.format("dwrf")`` into a fresh directory and
compacts the part files with ``format.merge.compact_directory``. The
footer row count and an order-insensitive read-back digest check it."""

from __future__ import annotations

import hashlib
import os
from contextlib import nullcontext

BATCH_ROWS = 200_000
N_BATCHES = 4
SOURCE_FILES = 4  # parquet files per batch: Spark writes one part file each
WARMUP_OPS = 2  # the first write is ~4x a steady one, the second ~1.3x


def digest(table) -> str:
    """Order-insensitive content digest: rows sorted by ``id``, one chunk,
    no schema metadata, serialized as Arrow IPC."""
    import pyarrow as pa

    t = table.sort_by("id").combine_chunks().replace_schema_metadata(None)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    return hashlib.sha256(sink.getvalue()).hexdigest()


def run(ctx):
    import itertools

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from hive_dwrf_spark.format import merge
    from hive_dwrf_spark.format.reader import DwrfFile

    from perfbench import gen, replay, sparkctl
    from perfbench.common import Loop, Result, median, ratio

    with sparkctl.session(ctx) as spark:
        batches, sources, digests = [], [], []
        for b in range(N_BATCHES):
            t = gen.ingest_batch(ctx.seed, b, BATCH_ROWS)
            src = ctx.mkdir("source", f"batch-{b}")
            step = -(-BATCH_ROWS // SOURCE_FILES)
            for j in range(SOURCE_FILES):
                pq.write_table(t.slice(j * step, step), os.path.join(src, f"part-{j}.parquet"))
            batches.append(t)
            sources.append(src)
            digests.append(digest(t))
        schema = batches[0].schema

        ctx.mark("inputs")
        tracer = ctx.tracer
        loop = Loop(ctx, sparkctl.Probe(spark) if tracer else None)

        def attempt(i, op_id, out, traced):
            b = i % N_BATCHES
            part_dir = os.path.join(out, "parts")
            merged = os.path.join(out, "merged.dwrf")

            def op():
                with tracer.span("spark.action") if traced else nullcontext():
                    spark.read.parquet(sources[b]).write.format("dwrf").mode(
                        "overwrite"
                    ).save(part_dir)
                with tracer.span("merge.compact") if traced else nullcontext():
                    merge.compact_directory(part_dir, merged)

            def check(_):
                with DwrfFile(merged) as f:
                    if f.num_rows != BATCH_ROWS:  # footer only
                        return False, 0
                    back = f.read().cast(schema)
                loop.note("stored_bytes", os.path.getsize(merged))
                loop.note("input_bytes", batches[b].nbytes)
                return digest(back) == digests[b], BATCH_ROWS

            def after():
                loop.note("bytes_copied", replay.stripe_bytes(merged))
                chosen, eligible = replay.dictionary_columns(merged)
                loop.note("dict_chosen", chosen)
                loop.note("dict_eligible", eligible)
                replay.replay_write(
                    tracer, batches[b], os.path.join(out, "replay"), SOURCE_FILES,
                    from_arrow_schema(schema),
                )

            return op, check, after

        # warm-up: JIT, Python workers, page cache
        warmup = [-1 - i for i in range(WARMUP_OPS)]
        loop.run(attempt, warmup, ([i] for i in itertools.count()), replay.format_targets())

        layers = loop.layers
        out = {}
        if tracer:
            direct = tracer.within("format.replay")
            out = {
                "spark.action_ms": median(tracer.durations_ms("spark.action")),
                "sources.commit_ms": median(tracer.durations_ms("sources.commit")),
                "format.write_table_ms": median(direct.per_op_ms("format.write_table")),
                "format.flush_stripe_ms": median(direct.per_op_ms("format.flush_stripe")),
                "format.writer_close_ms": median(direct.per_op_ms("format.writer_close")),
                "format.dictionary_column_ratio": ratio(
                    sum(layers.get("dict_chosen", [])), sum(layers.get("dict_eligible", []))
                ),
                "merge.compact_ms": median(tracer.durations_ms("merge.compact")),
                "merge.bytes_copied": median(layers.get("bytes_copied", [])),
                **sparkctl.probe_layers(loop),
            }
        stored = sum(layers.get("stored_bytes", []))
        written = sum(layers.get("input_bytes", []))
        info = {
            "spark": sparkctl.describe(spark),
            "batches": f"{N_BATCHES} seeded batches x {BATCH_ROWS} rows x {len(schema)} cols, "
            f"{batches[0].nbytes} B decoded (Arrow) each, {SOURCE_FILES} parquet files each",
            "written": f"{stored} B of DWRF for {written} B of Arrow input",
        }
        return Result(loop.log, loop.wall_s, loop.setup_s, ratio(stored, written), out, info)
