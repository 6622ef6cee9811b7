"""Seeded input generators. Every table the workloads hand to the program
comes from here, as a pure function of (seed, sizes); the program only
ever sees the files written from these tables."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

#: streams of one seed are split by purpose so that resizing one table
#: never changes another
_STREAMS = {"star": 1, "ingest": 2, "lookup": 3, "corpus": 4, "ops": 5}


def rng_for(seed: int, purpose: str, *more: int) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAMS[purpose], *more])


def _prefixed(prefix: str, ints: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(prefix, pa.array(ints).cast(pa.string()), "")


def _random_letters(rng: np.random.Generator, n: int, width: int) -> pa.Array:
    data = rng.integers(97, 123, size=n * width, dtype=np.uint8)
    offsets = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.string(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)]
    )


# -- scan: star schema ---------------------------------------------------------

STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def star_schema(seed: int, n_fact: int, n_dim: int) -> tuple[pa.Table, pa.Table]:
    """A 12-column fact table sorted (clustered) on ``order_key`` plus a
    small dimension joined through ``dim_id``."""
    rng = rng_for(seed, "star")
    order_key = np.cumsum(rng.integers(1, 5, n_fact)).astype(np.int64)
    fact = pa.table(
        {
            "order_key": order_key,
            "cust_id": rng.integers(0, max(1, n_fact // 20), n_fact),
            "dim_id": rng.integers(0, n_dim, n_fact).astype(np.int32),
            "qty": rng.integers(1, 51, n_fact).astype(np.int32),
            "price": np.round(rng.uniform(1.0, 1000.0, n_fact), 2),
            "discount": np.round(rng.uniform(0.0, 0.1, n_fact), 2),
            "tax": np.round(rng.uniform(0.0, 0.08, n_fact), 2),
            "ship_day": rng.integers(0, 2557, n_fact).astype(np.int32),
            "status": pa.array(np.array(STATUSES)[rng.integers(0, 3, n_fact)]),
            "priority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_fact)]),
            "comment_key": _prefixed("c", rng.integers(0, max(1, n_fact // 2), n_fact)),
            "weight": rng.integers(0, 10_000, n_fact),
        }
    )
    dim = pa.table(
        {
            "dim_id": np.arange(n_dim, dtype=np.int32),
            "region": pa.array(np.array(REGIONS)[rng.integers(0, 5, n_dim)]),
            "dim_name": _prefixed("d", np.arange(n_dim)),
        }
    )
    return fact, dim


# -- ingest: write batches -------------------------------------------------------

CATEGORIES = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]


def ingest_batch(seed: int, index: int, rows: int) -> pa.Table:
    """Batch ``index``: low-cardinality string and integer columns (the
    writer's dictionary candidates) beside high-entropy ones."""
    rng = rng_for(seed, "ingest", index)
    return pa.table(
        {
            "id": np.arange(index * rows, (index + 1) * rows, dtype=np.int64),
            "category": pa.array(np.array(CATEGORIES)[rng.integers(0, 8, rows)]),
            "bucket": rng.integers(0, 64, rows),
            "amount": np.round(rng.gamma(2.0, 50.0, rows), 3),
            "user": _prefixed("u", rng.integers(0, rows * 4, rows)),
            "event_ms": np.sort(rng.integers(0, 86_400_000, rows)) + index * 86_400_000,
        }
    )


# -- lookup: range-sorted serving directory ----------------------------------------

LOOKUP_STRING_WIDTH = 40


def lookup_files(seed: int, file_rows: list[int]) -> list[pa.Table]:
    """One table per file; ``key`` is unique and ascending across the whole
    directory (file i holds the i-th key range), with gaps so some probed
    keys are absent."""
    rng = rng_for(seed, "lookup")
    total = sum(file_rows)
    keys = np.cumsum(rng.integers(1, 4, total)).astype(np.int64) * 2
    out, lo = [], 0
    for n in file_rows:
        out.append(
            pa.table(
                {
                    "key": keys[lo : lo + n],
                    "a": rng.integers(0, 1 << 40, n),
                    "b": rng.integers(0, 1000, n),
                    "x": rng.standard_normal(n),
                    "y": rng.uniform(0, 1, n),
                    "payload": _random_letters(rng, n, LOOKUP_STRING_WIDTH),
                }
            )
        )
        lo += n
    return out


# -- curate: document corpus with near-duplicates ---------------------------------


#: distinct words of the corpus vocabulary
VOCAB_SIZE = 20_000


def corpus_shard(seed: int, shard: int, docs: int, dup_rate: float) -> pa.Table:
    """``docs`` documents of random words. With probability ``dup_rate`` a
    document instead copies an earlier one of the same shard: verbatim, or
    as a near-duplicate whose only edits are a doubled space and a
    capitalised first letter — the same text once case and whitespace are
    normalised, so the curated output size is known exactly."""
    vocab_rng = rng_for(seed, "corpus", 1_000_000)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = vocab_rng.integers(3, 10, VOCAB_SIZE)
    flat = letters[vocab_rng.integers(0, 26, int(lens.sum()))]
    ends = np.cumsum(lens)
    vocab = ["".join(flat[e - n : e]) for e, n in zip(ends, lens)]
    rng = rng_for(seed, "corpus", shard)
    texts: list[str] = []
    for i in range(docs):
        if i and rng.random() < dup_rate:
            src = texts[int(rng.integers(0, i))]
            if rng.random() < 0.5:
                words = src.split(" ")
                j = int(rng.integers(1, len(words)))
                src = " ".join(words[:j]) + "  " + " ".join(words[j:])
                src = src[0].upper() + src[1:]
            texts.append(src)
        else:
            n = int(rng.integers(40, 120))
            texts.append(" ".join(vocab[k] for k in rng.integers(0, VOCAB_SIZE, n)))
    ids = np.arange(shard * docs, (shard + 1) * docs, dtype=np.int64)
    return pa.table({"doc_id": ids, "text": texts})


def normalized_text(texts: pa.Array) -> pa.Array:
    """The program's exact-dedup key (lower-cased, whitespace runs folded
    to one space), recomputed with pyarrow alone."""
    return pc.utf8_lower(pc.replace_substring_regex(texts, r"\s+", " "))
