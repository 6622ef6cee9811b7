"""The traced run's in-process replays and on-disk layout readings.

Spark runs the ``sources`` and ``format`` layers inside Python workers,
where the benchmark cannot time them. After a traced op, these functions
call the same public entry points on identical inputs in the benchmark's
own process: ``DwrfDataSource(...).reader(schema)``, ``pushFilters``,
``partitions()`` and ``read(partition)`` for a scan; the source writer,
its ``commit`` and ``DwrfWriter`` for a write. ``format_targets`` lists
the program calls that record a span while a traced op runs.
"""

from __future__ import annotations

import os
import time
import zlib


def format_targets():
    """(owner, attribute, span name, attrs_fn) for ``common.patched``."""
    from hive_dwrf_spark.format.reader import DwrfFile
    from hive_dwrf_spark.format.writer import DwrfWriter

    def stripe_attrs(out, args):
        return {
            "file": args[0].path,
            "stripe": args[1],
            "decoded_bytes": out.nbytes if out is not None else 0,
            "pruned": out is None,
        }

    return [
        (DwrfFile, "__init__", "format.open", None),
        (DwrfFile, "read_stripe", "format.read_stripe", stripe_attrs),
        (DwrfWriter, "write_table", "format.write_table", None),
        (DwrfWriter, "flush_stripe", "format.flush_stripe", None),
        (DwrfWriter, "close", "format.writer_close", None),
    ]


def replay_scan(tracer, path: str, filters: list) -> None:
    """Plan and read one dwrf scan exactly as Spark's workers would, with
    the filters Spark pushes for it."""
    from hive_dwrf_spark.sources import DwrfDataSource

    with tracer.span("sources.plan") as attrs:
        ds = DwrfDataSource({"path": path})
        reader = ds.reader(ds.schema())
        list(reader.pushFilters(filters))
        parts = [p for p in reader.partitions() if p.stripe_indices]
        attrs["partitions"] = len(parts)
        attrs["stripes_kept"] = sum(len(p.stripe_indices) for p in parts)
    for p in parts:
        with tracer.span("sources.read_partition"):
            for _ in reader.read(p):
                pass


def replay_write(tracer, table, out_dir: str, tasks: int, schema) -> None:
    """The source's write path over ``tasks`` slices of ``table`` (one
    per Spark task), then its commit; then the same rows through
    ``DwrfWriter`` directly, so the format layer's calls are timed on
    their own (under a ``format.replay`` span)."""
    from hive_dwrf_spark.format.writer import DwrfWriter
    from hive_dwrf_spark.sources import DwrfDataSource

    writer = DwrfDataSource({"path": os.path.join(out_dir, "source")}).writer(
        schema, True
    )
    step = -(-table.num_rows // tasks)
    messages = []
    with tracer.span("sources.write"):
        for i in range(tasks):
            batches = table.slice(i * step, step).to_batches()
            messages.append(writer.write(iter(batches)))
    with tracer.span("sources.commit"):
        writer.commit(messages)
    with tracer.span("format.replay"):
        with DwrfWriter(os.path.join(out_dir, "direct.dwrf"), table.schema) as w:
            w.write_table(table)


# -- on-disk layout ---------------------------------------------------------------


def _stripe_footers(path: str):
    """Yield (stripe information, decoded stripe footer, raw file handle,
    DwrfFile) for every stripe of one DWRF file."""
    from hive_dwrf_spark.format import codecs, proto
    from hive_dwrf_spark.format.reader import DwrfFile

    with DwrfFile(path) as f, open(path, "rb") as fh:
        for s in f.footer.stripes:
            fh.seek(s.offset + s.indexLength + s.dataLength)
            raw = fh.read(s.footerLength)
            sf = proto.decode_message(
                proto.StripeFooter,
                memoryview(codecs.decompress_stream(raw, f.compression)),
            )
            yield s, sf, fh, f


def compressed_blocks(path: str) -> list[list[bytes]]:
    """Per stripe, every compressed (non-original) block of every stream."""
    out = []
    for s, sf, fh, _ in _stripe_footers(path):
        blocks: list[bytes] = []
        fh.seek(s.offset)
        body = fh.read(s.indexLength + s.dataLength)
        off = 0
        for st in sf.streams:
            raw = body[off : off + st.length]
            off += st.length
            pos = 0
            while pos < len(raw):
                header = int.from_bytes(raw[pos : pos + 3], "little")
                pos += 3
                ln = header >> 1
                if not header & 1:
                    blocks.append(raw[pos : pos + ln])
                pos += ln
        out.append(blocks)
    return out


def zlib_floor_s(blocks: list[bytes]) -> float:
    """Serial raw-inflate time of ``blocks``: no decoding at all."""
    t = time.perf_counter()
    for b in blocks:
        zlib.decompress(b, -15)
    return time.perf_counter() - t


_DICT_ELIGIBLE = {"SHORT", "INT", "LONG", "STRING"}


def dictionary_columns(path: str) -> tuple[int, int]:
    """(stripe-columns that chose dictionary encoding, stripe-columns of a
    dictionary-eligible type), read from the stripe footers."""
    from hive_dwrf_spark.format.constants import ColumnEncodingKind, TypeKind

    chosen = eligible = 0
    for _, sf, _, f in _stripe_footers(path):
        for tid, enc in enumerate(sf.columns):
            if TypeKind(f.types[tid].kind).name not in _DICT_ELIGIBLE:
                continue
            eligible += 1
            chosen += int(enc.kind == int(ColumnEncodingKind.DICTIONARY))
    return chosen, eligible


def stripe_bytes(path: str) -> int:
    """Bytes of stripe bodies and footers: what a stripe-copy merge copies."""
    from hive_dwrf_spark.format.reader import DwrfFile

    with DwrfFile(path) as f:
        return sum(s.indexLength + s.dataLength + s.footerLength for s in f.footer.stripes)


def dir_bytes(path: str) -> int:
    """Bytes of the ``.dwrf`` files under ``path``."""
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in files if n.endswith(".dwrf"))
    return total
