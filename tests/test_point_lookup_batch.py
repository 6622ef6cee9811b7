"""Batched point lookup: DwrfFile.read_rows_at (single-file, row-id
addressed) and format.lookup.lookup_keys (multi-file, key addressed with
footer/stride statistics pruning) — the serving half of the A5 seek
surface (RecordReaderImpl.java:494-543 seekToRow, amortized over key
batches the way the reference's host engine amortizes it with footer
statistics, ReaderImpl.java:204-260)."""

from __future__ import annotations

import os
import sys
import threading

import numpy as np
import pyarrow as pa
import pytest

from hive_dwrf_spark.format import DwrfFile, write_arrow_table
from hive_dwrf_spark.format import reader as reader_mod
from hive_dwrf_spark.format.lookup import lookup_keys


@pytest.fixture(autouse=True)
def _empty_stride_cache():
    """The decoded-stride cache is process-wide: start each test empty."""
    reader_mod.STRIDE_CACHE.clear()


def _nested_table(n: int) -> pa.Table:
    return pa.table(
        {
            "i": pa.array(np.arange(n, dtype=np.int64)),
            "s": pa.array(
                [f"val{i % 97}" if i % 13 else None for i in range(n)]
            ),
            "lst": pa.array(
                [[i, i + 1] if i % 7 else None for i in range(n)],
                type=pa.list_(pa.int64()),
            ),
            "st": pa.array(
                [{"a": i % 5, "b": f"x{i % 3}"} for i in range(n)],
                type=pa.struct([("a", pa.int64()), ("b", pa.string())]),
            ),
        }
    )


@pytest.fixture(scope="module")
def nested_file(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("batch") / "t.dwrf")
    write_arrow_table(
        path, _nested_table(25_000), stripe_rows=8_000, row_index_stride=1_000
    )
    return path


class TestReadRowsAt:
    def test_parity_with_read_row(self, nested_file):
        ids = [0, 999, 1000, 7999, 8000, 8001, 24999, 5, 5, 12345, 3]
        with DwrfFile(nested_file) as f:
            t = f.read_rows_at(ids)
            assert t.num_rows == len(ids)
            for k, r in enumerate(ids):
                row = f.read_row(r)
                got = {c: t.column(c)[k].as_py() for c in t.schema.names}
                assert got == row, (r, got, row)

    def test_input_order_and_duplicates(self, nested_file):
        ids = [20_000, 3, 3, 9_999, 20_000]
        with DwrfFile(nested_file) as f:
            t = f.read_rows_at(ids, columns=["i"])
            assert t.column("i").to_pylist() == ids

    def test_projection_nested_path(self, nested_file):
        with DwrfFile(nested_file) as f:
            t = f.read_rows_at([100, 20_000], columns=["i", "st.a"])
            assert t.column("i").to_pylist() == [100, 20_000]
            assert t.column("st").to_pylist() == [{"a": 0}, {"a": 0}]

    def test_empty_and_out_of_range(self, nested_file):
        with DwrfFile(nested_file) as f:
            e = f.read_rows_at([])
            assert e.num_rows == 0
            assert e.schema.names == ["i", "s", "lst", "st"]
            with pytest.raises(IndexError):
                f.read_rows_at([25_000])
            with pytest.raises(IndexError):
                f.read_rows_at([0, -1])

    def test_batch_decodes_each_stride_once(self, nested_file):
        """100 rows in one stride must cost ~1 stride decode per column,
        not 100 — counted by instrumenting the decoder method."""
        from hive_dwrf_spark.format import reader as reader_mod

        calls = {"n": 0}
        orig = reader_mod._StripeDecoder.decode_stride_column

        def counting(self, *a, **kw):
            calls["n"] += 1
            return orig(self, *a, **kw)

        reader_mod._StripeDecoder.decode_stride_column = counting
        try:
            with DwrfFile(nested_file) as f:
                f.read_rows_at(list(range(200, 300)), columns=["i", "s"])
        finally:
            reader_mod._StripeDecoder.decode_stride_column = orig
        assert calls["n"] <= 4, calls  # one per projected column

    def test_no_row_index_fallback(self, tmp_path):
        path = str(tmp_path / "legacy.dwrf")
        write_arrow_table(
            path, _nested_table(5_000), row_index_stride=0, stripe_rows=2_000
        )
        ids = [0, 1999, 2000, 4999, 42]
        with DwrfFile(path) as f:
            t = f.read_rows_at(ids)
            for k, r in enumerate(ids):
                assert t.column("i")[k].as_py() == r
                assert t.column("st")[k].as_py() == {
                    "a": r % 5,
                    "b": f"x{r % 3}",
                }

    def test_union_column_fallback(self, tmp_path):
        """UNION columns have no per-branch seek positions (the reference
        records none either) — the batch path must fall back to one
        whole-stripe decode and still return exact values."""
        path = str(tmp_path / "u.dwrf")
        n = 3_000
        table = pa.table(
            {
                "i": pa.array(np.arange(n, dtype=np.int64)),
                "u": pa.array(
                    [
                        {"tag": 0, "field0": i, "field1": None}
                        if i % 2 == 0
                        else {"tag": 1, "field0": None, "field1": f"s{i}"}
                        for i in range(n)
                    ],
                    type=pa.struct(
                        [
                            ("tag", pa.int8()),
                            ("field0", pa.int64()),
                            ("field1", pa.string()),
                        ]
                    ),
                ),
            }
        )
        write_arrow_table(
            path,
            table,
            union_columns={"u"},
            stripe_rows=1_000,
            row_index_stride=500,
        )
        with DwrfFile(path) as f:
            t = f.read_rows_at([0, 1, 1500, 2999])
            assert t.column("i").to_pylist() == [0, 1, 1500, 2999]
            assert t.column("u")[1].as_py()["field1"] == "s1"
            assert t.column("u")[2].as_py()["field0"] == 1500

    def test_point_decoder_cache_is_lru(self, nested_file):
        with DwrfFile(nested_file) as f:
            f._point_decoders.clear()
            # 4 stripes x 3 projections = 12 (stripe, projection) keys;
            # churn past the cap, then confirm the hot key survives reuse
            projections = [["i"], ["s"], ["i", "s"]]
            for stripe_row in (0, 8_000, 16_000, 24_000):
                for cols in projections:
                    f.read_row(stripe_row, columns=cols)
            assert len(f._point_decoders) <= 8
            # most-recently-used key must be retained across a re-access
            f.read_row(24_000, columns=["i", "s"])
            hot = list(f._point_decoders)[-1]
            dec = f._point_decoders[hot]
            f.read_row(24_001, columns=["i", "s"])
            assert f._point_decoders[hot] is dec  # reused, not rebuilt
            assert list(f._point_decoders)[-1] == hot  # touched to back

    def test_stride_array_cache_hits_and_budget(self, nested_file, monkeypatch):
        """The process-wide decoded-stride LRU (the r8 concurrent-serving
        fix, now shared by every handle): a repeat read_row of the same
        stride decodes nothing new, also on a second handle, values stay
        exact, and the byte budget evicts instead of growing without
        bound."""
        cache = reader_mod.STRIDE_CACHE
        with DwrfFile(nested_file) as f:
            first = f.read_row(1_234)
            n_entries = len(cache)
            assert n_entries > 0 and cache.nbytes > 0
            assert f.stride_cache_tally == {"hits": 0, "misses": n_entries}
        with DwrfFile(nested_file) as g:
            # repeat hit: same keys, same values, no new entries
            assert g.read_row(1_234) == first
            assert len(cache) == n_entries
            # neighbor row in the same stride: pure cache hit too
            g.read_row(1_235)
            assert len(cache) == n_entries
            assert g.stride_cache_tally == {"hits": 2 * n_entries, "misses": 0}
        # a 1-MB budget must bound the cache while answers stay exact
        monkeypatch.setenv("SPARK_GRAFT_STRIDE_CACHE_MB", "1")
        small = reader_mod.StrideCache()
        monkeypatch.setattr(reader_mod, "STRIDE_CACHE", small)
        rows = {}
        for r in (0, 8_000, 16_000, 24_000, 1_234):
            with DwrfFile(nested_file) as f:
                rows[r] = f.read_row(r)
        assert small.budget == 1 << 20
        assert 0 < small.nbytes <= 1 << 20
        assert rows[1_234] == first

    def test_stride_cache_budget_env_parse(self, monkeypatch):
        """A malformed or negative SPARK_GRAFT_STRIDE_CACHE_MB falls back
        to 64 MiB with one warning instead of failing every open."""
        import warnings

        for raw, mb, warned in (
            ("16", 16, False),
            ("0", 0, False),
            ("abc", 64, True),
            ("-3", 64, True),
            ("1.5", 64, True),
        ):
            monkeypatch.setenv("SPARK_GRAFT_STRIDE_CACHE_MB", raw)
            with warnings.catch_warnings(record=True) as w:
                warnings.simplefilter("always")
                assert reader_mod.StrideCache().budget == mb << 20, raw
            assert len(w) == int(warned), (raw, [str(x.message) for x in w])
        monkeypatch.delenv("SPARK_GRAFT_STRIDE_CACHE_MB")
        assert reader_mod.StrideCache().budget == 64 << 20

    def test_whole_column_cache_keys_nested_projection(self, tmp_path):
        """Without a row index a struct decodes whole-stripe, emitting only
        the projected children: the cache key must carry that projection,
        or a later full read gets the pruned struct."""
        path = str(tmp_path / "legacy.dwrf")
        write_arrow_table(
            path, _nested_table(5_000), row_index_stride=0, stripe_rows=2_000
        )
        with DwrfFile(path) as f:
            a_only = f.read_rows_at([3, 7], columns=["st.a"])
            assert a_only.column("st").to_pylist() == [{"a": 3}, {"a": 2}]
            full = f.read_rows_at([3, 7], columns=["st"])
            assert full.column("st").to_pylist() == [
                {"a": 3, "b": "x0"},
                {"a": 2, "b": "x1"},
            ]
        with DwrfFile(path) as g:  # and across handles
            assert g.read_rows_at([3, 7], columns=["st.a"]).equals(a_only)

    def test_concurrent_lookups_shared_handle_exact(self, nested_file):
        """32 threads on ONE handle: every thread sees exact values while
        the shared decoder + stride caches serve all of them."""
        from concurrent.futures import ThreadPoolExecutor

        with DwrfFile(nested_file) as f:
            targets = list(range(0, f.num_rows, max(1, f.num_rows // 20)))[:20]
            expect = {r: f.read_row(r) for r in targets}

            def client(_):
                for r in targets:
                    if f.read_row(r) != expect[r]:
                        return False
                return True

            with ThreadPoolExecutor(max_workers=32) as pool:
                assert all(pool.map(client, range(32)))


class TestLookupKeys:
    @pytest.fixture(scope="class")
    def serving_dir(self, tmp_path_factory):
        """4 range-sorted files of 20k rows each — the layout a
        key-addressed serving table has at any scale."""
        d = str(tmp_path_factory.mktemp("serving"))
        n = 20_000
        for fidx in range(4):
            base = fidx * n
            t = pa.table(
                {
                    "k": pa.array(np.arange(base, base + n, dtype=np.int64)),
                    "v": pa.array([f"s{(base + i) % 31}" for i in range(n)]),
                    "lst": pa.array(
                        [[i % 7, i % 5] for i in range(n)],
                        type=pa.list_(pa.int64()),
                    ),
                }
            )
            write_arrow_table(
                os.path.join(d, f"part-{fidx:04d}.dwrf"),
                t,
                stripe_rows=8_000,
                row_index_stride=1_000,
            )
        return d

    def test_values_and_pruning(self, serving_dir):
        keys = [20_001, 20_500, 25_000, 61_000, 61_001, 999_999, -5]
        trace = {}
        out = lookup_keys(serving_dir, "k", keys, trace=trace)
        assert sorted(out.column("k").to_pylist()) == [
            20_001,
            20_500,
            25_000,
            61_000,
            61_001,
        ]
        assert out.column("v").to_pylist() == [
            f"s{k % 31}" for k in out.column("k").to_pylist()
        ]
        # files 0 and 2 hold none of the keys: pruned on footer stats
        assert trace["files_pruned"] == 2, trace
        # within surviving files only the strides holding keys decode
        assert trace["strides_scanned"] < trace["strides_total"] / 4, trace

    def test_projection_without_key_column(self, serving_dir):
        out = lookup_keys(serving_dir, "k", [100, 200], columns=["v", "lst"])
        assert out.schema.names == ["v", "lst"]
        assert out.column("v").to_pylist() == ["s7", "s14"]
        assert out.column("lst").to_pylist() == [
            [100 % 7, 100 % 5],
            [200 % 7, 200 % 5],
        ]

    def test_duplicate_matches_and_string_keys(self, tmp_path):
        d = str(tmp_path / "dup")
        os.makedirs(d)
        t = pa.table(
            {
                "k": pa.array([1, 1, 2], type=pa.int64()),
                "v": pa.array(["a", "b", "c"]),
            }
        )
        write_arrow_table(os.path.join(d, "p.dwrf"), t)
        out = lookup_keys(d, "k", [1])
        assert sorted(out.column("v").to_pylist()) == ["a", "b"]
        out2 = lookup_keys(d, "v", ["c", "zz"])
        assert out2.column("k").to_pylist() == [2]

    def test_no_match_returns_empty_with_schema(self, serving_dir):
        out = lookup_keys(serving_dir, "k", [10_000_000])
        assert out.num_rows == 0
        assert out.schema.names == ["k", "v", "lst"]

    def test_null_keys_never_match(self, tmp_path):
        d = str(tmp_path / "nulls")
        os.makedirs(d)
        t = pa.table(
            {
                "k": pa.array([None, 5, None], type=pa.int64()),
                "v": pa.array(["x", "y", "z"]),
            }
        )
        write_arrow_table(os.path.join(d, "p.dwrf"), t)
        out = lookup_keys(d, "k", [5])
        assert out.column("v").to_pylist() == ["y"]

    def test_legacy_file_without_row_index(self, tmp_path):
        d = str(tmp_path / "legacy")
        os.makedirs(d)
        n = 4_000
        t = pa.table(
            {
                "k": pa.array(np.arange(n, dtype=np.int64)),
                "v": pa.array([str(i) for i in range(n)]),
            }
        )
        write_arrow_table(
            os.path.join(d, "p.dwrf"), t, row_index_stride=0, stripe_rows=1_500
        )
        out = lookup_keys(d, "k", [0, 1_499, 1_500, 3_999])
        assert sorted(out.column("k").to_pylist()) == [0, 1_499, 1_500, 3_999]
        assert sorted(out.column("v").to_pylist(), key=int) == [
            "0",
            "1499",
            "1500",
            "3999",
        ]

    def test_requires_keys_and_known_column(self, serving_dir):
        with pytest.raises(ValueError):
            lookup_keys(serving_dir, "k", [])
        with pytest.raises(KeyError):
            lookup_keys(serving_dir, "nope", [1])

    def test_null_and_mixed_type_keys(self, serving_dir):
        # NULL keys match nothing and must not break the sort
        t = lookup_keys(serving_dir, "k", [None, 1500, None])
        assert t.num_rows == 1
        with pytest.raises(ValueError, match="non-null"):
            lookup_keys(serving_dir, "k", [None, None])
        # mixed int/str keys: a clear error naming the types, not a
        # bare TypeError from sorted()
        with pytest.raises(ValueError, match="orderable type"):
            lookup_keys(serving_dir, "k", [1, "one"])

    def test_repeat_call_decodes_nothing(self, serving_dir, monkeypatch):
        """A second call with the same keys opens fresh handles, serves
        every stride from the process-wide cache and returns the same
        table."""
        keys = [150, 20_001, 25_000, 61_000, 79_999]
        first_trace: dict = {}
        first = lookup_keys(serving_dir, "k", keys, trace=first_trace)
        assert first_trace["stride_cache_hits"] == 0
        assert first_trace["stride_cache_misses"] > 0
        calls = {"n": 0}
        for name in ("decode_stride_column", "decode_column"):
            orig = getattr(reader_mod._StripeDecoder, name)

            def counting(self, *a, _orig=orig, **kw):
                calls["n"] += 1
                return _orig(self, *a, **kw)

            monkeypatch.setattr(reader_mod._StripeDecoder, name, counting)
        trace: dict = {}
        again = lookup_keys(serving_dir, "k", keys, trace=trace)
        assert calls["n"] == 0
        assert again.equals(first)
        assert trace["stride_cache_misses"] == 0
        assert trace["stride_cache_hits"] == (
            first_trace["stride_cache_hits"] + first_trace["stride_cache_misses"]
        )

    def test_replaced_file_serves_new_values(self, tmp_path):
        """A file replaced at the same path by the commit pattern (temp
        file + os.replace) is a new cache identity, even at the same size
        and modification time."""
        d = str(tmp_path / "swap")
        os.makedirs(d)
        path = os.path.join(d, "p.dwrf")
        n = 3_000

        def commit(v: int):
            t = pa.table(
                {
                    "k": pa.array(np.arange(n, dtype=np.int64)),
                    "v": pa.array(np.full(n, v, dtype=np.int64)),
                }
            )
            tmp = os.path.join(d, ".p.dwrf.tmp")
            write_arrow_table(tmp, t, stripe_rows=1_000, row_index_stride=500)
            os.replace(tmp, path)

        commit(4)
        assert lookup_keys(d, "k", [5, 2_500]).column("v").to_pylist() == [4, 4]
        commit(1)  # a different size
        assert lookup_keys(d, "k", [5, 2_500]).column("v").to_pylist() == [1, 1]
        # same size (4 and 5 encode to equal lengths), mtime forced back:
        # only the footer digest tells the files apart
        commit(4)
        assert lookup_keys(d, "k", [5, 2_500]).column("v").to_pylist() == [4, 4]
        before = os.stat(path)
        commit(5)
        assert os.stat(path).st_size == before.st_size
        os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns))
        assert lookup_keys(d, "k", [5, 2_500]).column("v").to_pylist() == [5, 5]

    def test_budget_holds_across_handles(self, serving_dir, monkeypatch):
        """The byte budget bounds the whole process, not each handle:
        lookups over 4 files, each through its own handle, stay within
        1 MiB and exact."""
        monkeypatch.setenv("SPARK_GRAFT_STRIDE_CACHE_MB", "1")
        small = reader_mod.StrideCache()
        monkeypatch.setattr(reader_mod, "STRIDE_CACHE", small)
        keys = [k for base in range(0, 80_000, 20_000) for k in (base + 3, base + 17_003)]
        for _ in range(2):
            out = lookup_keys(serving_dir, "k", keys)
            assert sorted(out.column("k").to_pylist()) == keys
            assert out.column("v").to_pylist() == [
                f"s{k % 31}" for k in out.column("k").to_pylist()
            ]
            assert 0 < small.nbytes <= 1 << 20

    def test_concurrent_fresh_handle_lookups_exact(self, serving_dir):
        """8 threads of fresh-handle lookup_keys share one cache and every
        result stays exact (short switch interval to force interleaving)."""
        n = 20_000
        errors: list = []

        def client(cid: int):
            rng = np.random.default_rng(cid)
            try:
                for _ in range(5):
                    keys = sorted(set(rng.integers(0, 4 * n, 6).tolist()))
                    out = lookup_keys(serving_dir, "k", keys)
                    got = out.column("k").to_pylist()
                    assert got == keys, (got, keys)
                    assert out.column("v").to_pylist() == [
                        f"s{k % 31}" for k in keys
                    ]
                    assert out.column("lst").to_pylist() == [
                        [(k % n) % 7, (k % n) % 5] for k in keys
                    ]
            except Exception as e:  # reported on the main thread
                errors.append(e)

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            threads = [threading.Thread(target=client, args=(c,)) for c in range(8)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
