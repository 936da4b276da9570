"""Unit coverage for small helpers: spec blob-size estimates, split
planning, suggestion tables, banked serialization math."""

import gzip
import os

import numpy as np
import pytest

from facs_spark.io.fastx import _plan_splits, sniff_format
from facs_spark.ops.sketch_agg import SketchSpec
from facs_spark.sketch import (BloomFilter, CountMinSketch, HyperLogLog, KLL,
                               TDigest, kmer_suggestion, mco_suggestion)

MB = 1 << 20


def test_blob_bytes_estimates_match_reality():
    specs = [
        SketchSpec.make("bloom", "t", prep="kgram", k=15, capacity=100_000,
                        error_rate=0.0005),
        SketchSpec.make("hll", "x", p=12),
        SketchSpec.make("cms", "x", epsilon=1e-3, delta=0.05),
        SketchSpec.make("tdigest", "x"),
        SketchSpec.make("kll", "x"),
        SketchSpec.make("cbf", "x", capacity=10_000, error_rate=1e-3),
        SketchSpec.make("cuckoo", "x", capacity=10_000),
        SketchSpec.make("cs", "x", r=5, c=1024),
        SketchSpec.make("ams", "x", r=5, c=128),
    ]
    # keys that make each counter-array sketch serialize dense
    dense_fill = {"hll": 200_000, "cms": 200_000, "cbf": 20_000,
                  "cuckoo": 8_000, "cs": 50_000, "ams": 2_000}
    import numpy as np
    for spec in specs:
        est = spec.blob_bytes()
        sk = spec.new_sketch()
        real = len(sk.to_bytes())
        # blob_bytes is the WORST-CASE bound used for merge-group
        # sizing: it must never undershoot the actual blob
        assert est >= real, f"{spec.kind}: est {est} < {real}"
        # estimates should be tight vs the DENSE form (low-density
        # counter arrays auto-serialize sparse, far below the bound —
        # that is the point of the sparse format)
        if spec.kind == "bloom" or spec.kind in dense_fill:
            if spec.kind in dense_fill:
                sk.update_batch(np.arange(dense_fill[spec.kind],
                                          dtype=np.int64))
            dense = len(sk.to_bytes())
            assert est >= dense, f"{spec.kind}: est {est} < {dense}"
            assert abs(est - dense) <= dense * 0.1 + 128, spec.kind


def test_ddsketch_blob_bytes_bounds_a_wide_input():
    """DDSketch's bound covers every bucket a positive double can reach:
    10^6 values spanning e^±20 at alpha=0.001 serialize 320,050 B, over
    the flat 64 KiB the bound used to be.  At alpha=0.5 a sketch holding
    both extreme doubles fills the whole key span and meets it."""
    from facs_spark.sketch import DDSketch
    dd = DDSketch(alpha=0.001)
    rng = np.random.default_rng(0)
    dd.update_batch(np.exp(rng.uniform(-20.0, 20.0, 1_000_000)))
    blob = len(dd.to_bytes())
    assert blob > 64 << 10
    assert blob <= SketchSpec.make("ddsketch", "x", alpha=0.001).blob_bytes()
    full = DDSketch(alpha=0.5)
    full.update_batch([np.nextafter(0.0, 1.0), np.finfo(np.float64).max])
    span = max(full._store) - min(full._store) + 1
    est = SketchSpec.make("ddsketch", "x", alpha=0.5).blob_bytes()
    assert len(full.to_bytes()) + 16 * (span - 2) <= est <= 16 * span + 128


def test_cbf_blob_bytes_touches_no_pages():
    """``blob_bytes`` measures a constructed sketch: the SQL-default
    counting Bloom (1M keys, p=1e-6) is a 57.5 MB counter array of
    calloc'd zero pages, so constructing it adds no resident memory."""
    from facs_spark.sketch.cbf import CountingBloom

    def rss():
        with open("/proc/self/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")

    spec = SketchSpec.make("cbf", "x", capacity=1_000_000, error_rate=1e-6)
    before = rss()
    sk = spec.new_sketch()
    assert rss() - before < 4 * MB
    m, _k = CountingBloom.size_for(1_000_000, 1e-6)
    assert sk.counters.nbytes == m * 2
    assert spec.blob_bytes() == m * 2 + 64


def test_spec_rejects_unknown_param():
    """A param the sketch constructor does not take raises instead of
    silently building the class default (``q=12`` used to give p=14)."""
    with pytest.raises(TypeError, match="'q'"):
        SketchSpec.make("hll", "x", q=12).new_sketch()
    with pytest.raises(TypeError, match="'eps'"):
        SketchSpec.make("cms", "x", eps=1e-3).blob_bytes()
    with pytest.raises(ValueError, match="unknown sketch kind"):
        SketchSpec.make("hyperloglog", "x").new_sketch()


def test_suggestion_tables_reference_values():
    assert kmer_suggestion(5 * MB) == 15
    assert kmer_suggestion(15 * MB) == 16
    assert kmer_suggestion(600 * MB) == 20
    assert mco_suggestion(15) == 0.4
    assert mco_suggestion(16) == 0.3
    assert mco_suggestion(99) == 0.4  # default branch


def test_plan_splits_boundaries(tmp_path):
    p = tmp_path / "reads.fastq"
    p.write_text("@r\nACGT\n+\nIIII\n" * 1000)  # 15 KB
    tasks = _plan_splits([str(p)], split_bytes=4096)
    assert len(tasks) == 4  # ceil(15000/4096)
    assert tasks[0][2] == 0
    ends = [t[3] for t in tasks]
    starts = [t[2] for t in tasks]
    assert starts[1:] == ends[:-1], "splits must tile the file"
    assert ends[-1] == os.path.getsize(p)
    # gzip: single whole-file task
    gz = tmp_path / "reads.fastq.gz"
    with gzip.open(gz, "wt") as fh:
        fh.write("@r\nACGT\n+\nIIII\n")
    gtasks = _plan_splits([str(gz)], split_bytes=4096)
    assert gtasks == [(str(gz), "fastq", -1, -1)]
    # empty file: one empty task, no infinite loop
    empty = tmp_path / "empty.fasta"
    empty.write_text("")
    etasks = _plan_splits([str(empty)], split_bytes=4096)
    assert etasks == [(str(empty), "fasta", 0, 0)]


def test_split_banks_counts():
    bf = BloomFilter.create(capacity=10_000, error_rate=0.01, k_mer=8)
    raw = bf.vector.nbytes
    for bank_size in (1024, 4096, raw + 10):
        banks = bf.split_banks(max_bank_bytes=bank_size)
        assert len(banks) == 1 + -(-raw // bank_size)
        rt = BloomFilter.from_banks(banks)
        assert (rt.vector == bf.vector).all()
    with pytest.raises(ValueError, match="bank count"):
        BloomFilter.from_banks(banks[:-1])


def test_bloom_payload_banks_above_threshold(monkeypatch):
    """The broadcast payload is the plain blob up to the bank threshold
    (read at call time) and banks strictly above it; either form
    decodes to the same filter."""
    from facs_spark.sketch import bloom as bloom_mod
    bf = BloomFilter.create(capacity=10_000, error_rate=0.01, k_mer=8)
    bf.add_batch(np.arange(640, dtype=np.uint8).reshape(-1, 8))
    blob = bf.to_bytes()
    assert bf.to_payload() == blob
    monkeypatch.setattr(bloom_mod, "_BANK_BYTES", len(blob))
    assert bf.to_payload() == blob
    monkeypatch.setattr(bloom_mod, "_BANK_BYTES", len(blob) - 1)
    assert bf.to_payload() == bf.split_banks(len(blob) - 1)
    for payload in (blob, bytearray(blob), bf.split_banks(1024)):
        rt = BloomFilter.from_payload(payload)
        assert (rt.vector == bf.vector).all()
        assert rt.to_bytes() == blob


def test_sketch_roundtrip_empty_states():
    """Serialization of never-updated sketches round-trips."""
    for sk in (HyperLogLog(p=10), CountMinSketch(epsilon=0.01, delta=0.1),
               TDigest(), KLL()):
        blob = sk.to_bytes()
        back = type(sk).from_bytes(blob)
        assert back.to_bytes() == blob


def test_sniff_binary_head_precedence(tmp_path):
    # extension wins over head; head only used for unknown extensions
    assert sniff_format("a.fasta", b"@") == "fasta"
    assert sniff_format("a.fq", b">") == "fastq"


def test_facs_sizing_truncation_order_matches_reference():
    """get_rec casts log(e) to int BEFORE dividing by log(0.5)
    (facs/suggestions.c:112), so e=0.01 seeds k=5 (not 6); the repo
    must reproduce the reference's resulting (m, k) exactly."""
    import math

    from facs_spark.sketch import facs_sizing, find_close_prime
    for n in (1_000, 10_000, 123_457):
        for e in (0.01, 0.001, 0.0005, 0.0001):
            k0 = int(math.trunc(math.log(e)) / math.log(0.5))
            m = find_close_prime(13 * n * k0 // 9)
            k = max(1, min(9 * m // (13 * n), 20))
            st = facs_sizing(n, e)
            assert (st.elements, st.ideal_hashes) == (m, k), (n, e)


def test_bloom_tokens_spec_tokenizes():
    """A bloom spec with prep='tokens' must insert tokens, not whole
    column values (prep dispatch precedes kind dispatch)."""
    import pandas as pd

    from facs_spark.sketch.hashing import ascii_lower, length_group_matrices
    spec = SketchSpec.make("bloom", "text", prep="tokens", capacity=1000,
                           error_rate=1e-6)
    sk = spec.new_sketch()
    spec.update(sk, pd.Series(["foo bar", "baz"]))

    def member(tok: str) -> bool:
        mats = list(length_group_matrices([ascii_lower(tok.encode())]))
        return bool(sk.contains_batch(mats[0][1])[0])

    assert member("foo") and member("bar") and member("baz")
    assert not member("foo bar")  # the whole value was never a key


def test_pages_source_contract(tmp_path):
    """read_pages/write_pages: parquet path roundtrip with day
    partitioning; schema contract enforced; Iceberg branch fails loud
    without the runtime jar (this container ships none)."""
    import pandas as pd

    from facs_spark.io.pages import read_pages, write_pages
    from facs_spark.session import get_spark
    spark = get_spark("pages_test", cpus=2, shuffle_partitions=2)
    pdf = pd.DataFrame({
        "url": [f"https://ex.com/{i}" for i in range(10)],
        "warc_ts": pd.to_datetime("2026-01-01") + pd.to_timedelta(
            np.arange(10) * 12, unit="h"),
        "html": [f"<p>doc {i}</p>".encode() for i in range(10)],
        "text": [f"doc {i}" for i in range(10)],
        "lang": ["en"] * 10,
    })
    df = spark.createDataFrame(pdf)
    tgt = str(tmp_path / "pages")
    write_pages(df, tgt, mode="overwrite")
    back = read_pages(spark, tgt)
    assert back.count() == 10
    assert {r["text"] for r in back.select("text").collect()} \
        == set(pdf["text"])
    # day partitioning materialized → partition pruning is available
    assert any("warc_day=" in p for p in os.listdir(tgt))
    with pytest.raises(ValueError, match="missing columns"):
        write_pages(df.drop("html"), tgt)
    with pytest.raises(RuntimeError, match="Iceberg"):
        read_pages(spark, "iceberg:cat.db.pages")
    with pytest.raises(ValueError, match="snapshot"):
        read_pages(spark, tgt, snapshot_id=1)
    # Iceberg writes accept only modes that preserve the table's
    # partition spec (append / dynamic-partition overwrite)
    with pytest.raises(ValueError, match="Iceberg write mode"):
        write_pages(df, "iceberg:cat.db.pages", mode="ignore")


def test_snaptable_snapshot_isolation(tmp_path):
    """io/snapshots.py delivers the Iceberg semantics this sandbox
    can't run through the real runtime jar: append → new snapshot,
    pinned reads are isolated from later commits, every historical
    snapshot stays readable (time travel), overwrite replaces the
    visible set without deleting history, and the commit is atomic
    (data files invisible until HEAD moves)."""
    import pandas as pd

    from facs_spark.io.pages import read_pages, write_pages
    from facs_spark.io.snapshots import (current_snapshot_id,
                                         read_snaptable, snapshots,
                                         write_snaptable)
    from facs_spark.session import get_spark
    spark = get_spark("snap_test", cpus=2, shuffle_partitions=2)

    def mk(lo, hi):
        pdf = pd.DataFrame({
            "url": [f"https://ex.com/{i}" for i in range(lo, hi)],
            "warc_ts": pd.to_datetime("2026-01-01")
            + pd.to_timedelta(np.arange(lo, hi), unit="h"),
            "html": [b"<p/>"] * (hi - lo),
            "text": [f"doc {i}" for i in range(lo, hi)],
            "lang": ["en"] * (hi - lo),
        })
        return spark.createDataFrame(pdf)

    tgt = "snap:" + str(tmp_path / "pages_snap")
    write_pages(mk(0, 5), tgt, mode="append")          # snapshot 1
    s1 = current_snapshot_id(tgt)
    assert s1 == 1
    # a reader pins snapshot 1, then a later append lands
    pinned = read_pages(spark, tgt, snapshot_id=s1)
    write_pages(mk(5, 8), tgt, mode="append")          # snapshot 2
    assert current_snapshot_id(tgt) == 2
    # isolation: the pinned plan still reads exactly snapshot 1's
    # files — re-evaluating it after the commit sees 5 rows, not 8
    assert pinned.count() == 5
    assert read_pages(spark, tgt).count() == 8
    # time travel: both snapshots readable side by side
    assert read_pages(spark, tgt, snapshot_id=1).count() == 5
    assert read_pages(spark, tgt, snapshot_id=2).count() == 8
    # overwrite replaces the visible set; history intact
    write_pages(mk(100, 102), tgt, mode="overwrite")   # snapshot 3
    assert read_pages(spark, tgt).count() == 2
    assert read_pages(spark, tgt, snapshot_id=2).count() == 8
    hist = snapshots(tgt)
    assert [h["snapshot_id"] for h in hist] == [1, 2, 3]
    assert [h["operation"] for h in hist] == ["append", "append",
                                              "overwrite"]
    assert hist[2]["parent_id"] == 2 and hist[2]["n_files"] < hist[1]["n_files"]
    # unknown snapshot fails loud; empty table fails loud
    with pytest.raises(ValueError, match="no snapshot"):
        read_snaptable(spark, tgt, snapshot_id=99)
    with pytest.raises(ValueError, match="empty"):
        read_snaptable(spark, "snap:" + str(tmp_path / "nothere"))
    # non-pages snaptable via the raw API (schema-free path)
    raw = "snap:" + str(tmp_path / "raw")
    write_snaptable(spark.range(3), raw)
    write_snaptable(spark.range(3, 10), raw, mode="append")
    assert read_snaptable(spark, raw).count() == 10


def test_snaptable_expire_snapshots(tmp_path):
    """expire_snapshots: the explicit retention action — old
    manifests go away, unreferenced data files are deleted, surviving
    snapshots (and HEAD) still read, expired pins fail loudly."""
    import os as _os

    from facs_spark.io.snapshots import (expire_snapshots, read_snaptable,
                                         snapshots, write_snaptable)
    from facs_spark.session import get_spark
    spark = get_spark("snap_expire_test", cpus=2, shuffle_partitions=2)
    tgt = "snap:" + str(tmp_path / "t")
    write_snaptable(spark.range(5), tgt)                    # 1
    write_snaptable(spark.range(5, 9), tgt, mode="append")  # 2
    write_snaptable(spark.range(100, 102), tgt, "overwrite")  # 3
    n_data_before = len(_os.listdir(tmp_path / "t" / "data"))
    audit = expire_snapshots(tgt, keep_last=1)
    assert audit["expired"] == [1, 2]
    # snapshots 1/2's files are referenced by nothing live → deleted
    assert audit["files_deleted"] > 0
    assert len(_os.listdir(tmp_path / "t" / "data")) \
        == n_data_before - audit["files_deleted"]
    assert [s["snapshot_id"] for s in snapshots(tgt)] == [3]
    assert read_snaptable(spark, tgt).count() == 2
    with pytest.raises(ValueError, match="no snapshot"):
        read_snaptable(spark, tgt, snapshot_id=2)
    with pytest.raises(ValueError, match="keep_last"):
        expire_snapshots(tgt, keep_last=0)


def test_snaptable_stats_pruning(tmp_path):
    """Manifest min/max stats → file-level data skipping: a range-
    partitioned layout lets an interval predicate eliminate whole
    files at PLANNING time, and the pruned read still returns exactly
    the filtered rows (stats only decide how little is scanned).
    Append commits inherit the parent's stats entries."""
    from facs_spark.io.snapshots import (plan_files, read_snaptable,
                                         write_snaptable)
    from facs_spark.session import get_spark
    spark = get_spark("snap_prune_test", cpus=2, shuffle_partitions=2)
    tgt = "snap:" + str(tmp_path / "t")
    df1 = spark.range(0, 1000).repartitionByRange(4, "id")
    write_snaptable(df1, tgt)
    df2 = spark.range(1000, 2000).repartitionByRange(4, "id")
    write_snaptable(df2, tgt, mode="append")

    allf, skipped0 = plan_files(tgt)
    assert len(allf) == 8 and skipped0 == 0
    kept, skipped = plan_files(tgt, prune=[("id", 100, 260)])
    assert skipped >= 6 and len(kept) + skipped == 8
    got = read_snaptable(spark, tgt, prune=[("id", 100, 260)])
    assert sorted(r.id for r in got.collect()) == list(range(100, 261))
    # second-commit interval prunes the first commit's files too
    kept2, skipped2 = plan_files(tgt, prune=[("id", 1500, 1600)])
    assert skipped2 >= 6
    # interval past the data prunes everything; read stays correct
    kept3, _ = plan_files(tgt, prune=[("id", 99999, None)])
    assert kept3 == []
    assert read_snaptable(spark, tgt,
                          prune=[("id", 99999, None)]).count() == 0
    # un-stat'd column never prunes
    kept4, skipped4 = plan_files(tgt, prune=[("nope", 0, 1)])
    assert len(kept4) == 8 and skipped4 == 0


def test_file_stats_partial_row_groups(tmp_path):
    """A column whose min/max are usable in SOME row groups but not
    others must contribute NO file-level stats: a partial range
    understates the file and would let plan_files skip a file that
    actually holds matching rows (silent wrong results).  Absent
    stats always mean "cannot prune" — the safe direction."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from facs_spark.io.snapshots import _file_stats
    tbl = pa.table({
        # row group 2's byte min/max are not valid UTF-8 → unusable
        "b": [b"aaa", b"\xff\xfe\xfd"],
        "i": [1, 2],
    })
    p = str(tmp_path / "f.parquet")
    pq.write_table(tbl, p, row_group_size=1)
    stats = _file_stats(p)
    assert "b" not in stats, "partial per-row-group stats must drop the column"
    assert stats["i"] == [1, 2]


def test_incremental_snaptable_sketch(tmp_path):
    """Commit-by-commit sketch maintenance: the first call ingests
    every commit, a re-run ingests nothing, a new append ingests only
    its delta — and the merged estimate equals a cold build over the
    whole table (merge associativity across commits).  Overwrite
    chains refuse (sketches cannot un-merge)."""
    from facs_spark.io.snapshots import write_snaptable
    from facs_spark.ops.checkpoint import incremental_snaptable_sketch
    from facs_spark.ops.sketch_agg import SketchSpec, build_sketch
    from facs_spark.session import get_spark
    spark = get_spark("snap_incr_test", cpus=2, shuffle_partitions=2)
    tgt = "snap:" + str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    spec = SketchSpec.make("hll", "id", p=12)
    write_snaptable(spark.range(0, 3000), tgt)
    write_snaptable(spark.range(3000, 5000), tgt, mode="append")

    sk, rows, processed = incremental_snaptable_sketch(
        spark, tgt, spec, ckpt)
    assert processed == ["snap-00000001", "snap-00000002"]
    assert rows == 5000
    # idempotent: nothing new to do
    sk2, rows2, processed2 = incremental_snaptable_sketch(
        spark, tgt, spec, ckpt)
    assert processed2 == [] and rows2 == 5000
    # a third commit is ingested alone
    write_snaptable(spark.range(5000, 6000), tgt, mode="append")
    sk3, rows3, processed3 = incremental_snaptable_sketch(
        spark, tgt, spec, ckpt)
    assert processed3 == ["snap-00000003"] and rows3 == 6000
    # merged incrementally == built cold (same estimate, not just close)
    cold, _ = build_sketch(spark.range(0, 6000), spec)
    assert abs(sk3.estimate() - cold.estimate()) < 1e-9
    # overwrite breaks append-only maintenance loudly
    write_snaptable(spark.range(10), tgt, mode="overwrite")
    write_snaptable(spark.range(10, 20), tgt, mode="append")
    with pytest.raises(ValueError, match="append-only"):
        incremental_snaptable_sketch(spark, tgt, spec,
                                     str(tmp_path / "ckpt2"))


def test_incremental_sketch_after_expiry(tmp_path):
    """expire_snapshots and incremental maintenance must compose: once
    the checkpoint covers a commit, the chain walk stops there, so
    expiring older manifests cannot break later maintenance calls —
    and a checkpoint that does NOT cover the expired history fails
    with a diagnostic naming the cause, not a bare missing-snapshot
    error."""
    from facs_spark.io.snapshots import expire_snapshots, write_snaptable
    from facs_spark.ops.checkpoint import incremental_snaptable_sketch
    from facs_spark.ops.sketch_agg import SketchSpec, build_sketch
    from facs_spark.session import get_spark
    spark = get_spark("snap_expire_incr_test", cpus=2,
                      shuffle_partitions=2)
    tgt = "snap:" + str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    spec = SketchSpec.make("hll", "id", p=12)
    write_snaptable(spark.range(0, 2000), tgt)
    write_snaptable(spark.range(2000, 3000), tgt, mode="append")
    _, rows, _ = incremental_snaptable_sketch(spark, tgt, spec, ckpt)
    assert rows == 3000
    # expire everything but HEAD, then append: maintenance still runs
    expire_snapshots(tgt, keep_last=1)
    write_snaptable(spark.range(3000, 4000), tgt, mode="append")
    sk, rows2, processed = incremental_snaptable_sketch(
        spark, tgt, spec, ckpt)
    assert processed == ["snap-00000003"] and rows2 == 4000
    cold, _ = build_sketch(spark.range(0, 4000), spec)
    assert abs(sk.estimate() - cold.estimate()) < 1e-9
    # a FRESH checkpoint cannot cover the expired commits → loud,
    # actionable diagnostic
    with pytest.raises(ValueError, match="expired"):
        incremental_snaptable_sketch(spark, tgt, spec,
                                     str(tmp_path / "ckpt_fresh"))
