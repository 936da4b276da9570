"""FASTA/FASTQ source + facs facade e2e — the reference's own test
shape (tests/test_basic.py / test_simngs.py / test_remove.py): build a
filter from a reference FASTA, query a synthetic FASTQ with known
ground truth, check the JSON report, and check remove's artifacts."""

import glob
import gzip
import json
import os

import numpy as np
import pytest

import facs_spark.api as facs
from facs_spark.io.fastx import read_fastx, sniff_format
from facs_spark.kernels.classify import rev_complement_batch
from facs_spark.session import get_spark

BASES = np.array(list("ACGT"))


def _seq(rng, n):
    return "".join(rng.choice(BASES, size=n))


@pytest.fixture(scope="module")
def spark():
    yield get_spark("facs_fastx_tests", cpus=4, shuffle_partitions=4)


@pytest.fixture(scope="module")
def fixtures(tmp_path_factory):
    """Reference genome FASTA (+ gz), mixed query FASTQ with known
    contamination (the simNGS mixed-dataset analogue,
    tests/test_simngs.py:113-149)."""
    rng = np.random.default_rng(6666520666)
    d = tmp_path_factory.mktemp("fastx")
    genome = _seq(rng, 5000)
    ref = d / "ecoli.fasta"
    # multi-line FASTA (fa_count newline-strip path, facs/tool.c:359-376)
    lines = [genome[i:i + 70] for i in range(0, len(genome), 70)]
    ref.write_text(">chr1 test genome\n" + "\n".join(lines) + "\n")
    with gzip.open(str(d / "ecoli.fasta.gz"), "wt") as gz:
        gz.write(">chr1 test genome\n" + "\n".join(lines) + "\n")

    # 60 contaminated reads (substrings of the genome, some reverse-
    # complemented, some case-mangled) + 140 clean random reads
    reads = []
    for i in range(60):
        start = int(rng.integers(0, len(genome) - 120))
        r = genome[start:start + 100]
        if i % 3 == 1:
            r = rev_complement_batch([r])[0]  # hits via revcomp retry
        if i % 5 == 2:
            r = "".join(c.lower() if rng.random() < 0.5 else c for c in r)
        reads.append(("contam%d" % i, r))
    for i in range(140):
        reads.append(("clean%d" % i, _seq(rng, 100)))
    fq = d / "sample.fastq"
    fq.write_text("".join(f"@{rid}\n{seq}\n+\n{'I' * len(seq)}\n"
                          for rid, seq in reads))
    with gzip.open(str(d / "sample.fastq.gz"), "wt") as gz:
        gz.write("".join(f"@{rid}\n{seq}\n+\n{'I' * len(seq)}\n"
                         for rid, seq in reads))
    return {"dir": str(d), "ref": str(ref), "fq": str(fq),
            "genome": genome, "n_contam": 60, "n_total": 200}


def test_sniff_format():
    assert sniff_format("x.fastq") == "fastq"
    assert sniff_format("x.fq.gz") == "fastq"
    assert sniff_format("x.fasta") == "fasta"
    assert sniff_format("weird.dat", b"@") == "fastq"
    assert sniff_format("weird.dat", b">") == "fasta"


def test_read_fastx_and_split_alignment(spark, fixtures):
    reads = read_fastx(spark, fixtures["fq"]).collect()
    assert len(reads) == fixtures["n_total"]
    by_id = {r["read_id"]: r for r in reads}
    assert len(by_id["contam0"]["seq"]) == 100
    assert by_id["contam0"]["qual"] == "I" * 100
    # tiny splits force the FASTQ realignment path — same multiset
    tiny = read_fastx(spark, fixtures["fq"], split_bytes=1500).collect()
    assert sorted(r["read_id"] for r in tiny) == sorted(by_id)
    assert {r["read_id"]: r["seq"] for r in tiny} == {
        k: v["seq"] for k, v in by_id.items()}


def test_read_fasta_multiline_and_gzip(spark, fixtures):
    fa = read_fastx(spark, fixtures["ref"]).collect()
    assert len(fa) == 1
    assert fa[0]["seq"] == fixtures["genome"]  # newlines stripped
    assert fa[0]["qual"] is None
    gz = read_fastx(spark, fixtures["ref"] + ".gz").collect()
    assert gz[0]["seq"] == fixtures["genome"]
    fqgz = read_fastx(spark, fixtures["fq"] + ".gz").collect()
    assert len(fqgz) == fixtures["n_total"]


def test_build_query_report(spark, fixtures):
    bloom_path = os.path.join(fixtures["dir"], "ecoli.bloom")
    assert facs.build(fixtures["ref"], bloom_path, k_mer=16,
                      error_rate=0.0005, spark=spark) == 0
    report = json.loads(facs.query(fixtures["fq"], bloom_path,
                                   spark=spark))
    assert report["total_read_count"] == fixtures["n_total"]
    # all planted contaminated reads found (incl. revcomp + case
    # variants); random 100-mers never match 16-gram membership
    assert report["contaminated_reads"] == fixtures["n_contam"]
    assert abs(report["contamination_rate"]
               - fixtures["n_contam"] / fixtures["n_total"]) < 1e-9
    assert 0.0 <= report["p_value"] <= 1.0
    assert report["begin_timestamp"] <= report["end_timestamp"]
    # tsv variant
    tsv = facs.query(fixtures["fq"], bloom_path, report_fmt="tsv",
                     spark=spark)
    assert tsv.startswith("sample\t") and str(fixtures["n_contam"]) in tsv


def test_query_sampling(spark, fixtures):
    bloom_path = os.path.join(fixtures["dir"], "ecoli.bloom")
    report = json.loads(facs.query(fixtures["fq"], bloom_path,
                                   sampling_rate=0.5, spark=spark))
    assert 0 < report["total_read_count"] < fixtures["n_total"]


def test_remove_artifacts(spark, fixtures):
    """Clean + contam outputs are the reference's exact two plain
    files and partition the input (tests/test_remove.py:22-31 artifact
    assertions; naming per facs/remove.c:89-151)."""
    bloom_path = os.path.join(fixtures["dir"], "ecoli.bloom")
    facs.remove(fixtures["fq"], bloom_path, spark=spark)
    clean = os.path.join(fixtures["dir"], "sample_ecoli_clean.fastq")
    contam = os.path.join(fixtures["dir"], "sample_ecoli_contam.fastq")
    assert os.path.isfile(clean) and os.path.isfile(contam)

    def read_ids(f):
        with open(f) as fh:
            lines = fh.read().splitlines()
        # strict 4-line FASTQ records: header is every 4th line
        return [l[1:] for l in lines[::4]]

    clean_ids, contam_ids = read_ids(clean), read_ids(contam)
    assert len(clean_ids) + len(contam_ids) == fixtures["n_total"]
    assert all(i.startswith("contam") for i in contam_ids)
    assert len(contam_ids) == fixtures["n_contam"]

    # cluster-scale sink still available: part-file directories
    facs.remove(fixtures["fq"], bloom_path, single_file=False, spark=spark)
    assert os.path.isdir(clean) and os.path.isdir(contam)
    assert glob.glob(os.path.join(clean, "part-*"))

    # single-file run after a directory run must REPLACE the stale
    # part-directory with the plain file (not move the file into it)
    facs.remove(fixtures["fq"], bloom_path, spark=spark)
    assert os.path.isfile(clean) and os.path.isfile(contam)
    assert read_ids(clean) == clean_ids


def test_remove_stream_output(spark, fixtures, capsys):
    """The reference's no-output-file pipe mode (facs/query.c:219-230):
    clean reads stream to stdout, contaminated reads to stderr, no
    files written — via toLocalIterator, never a full collect."""
    bloom_path = os.path.join(fixtures["dir"], "ecoli.bloom")
    report = json.loads(facs.remove(fixtures["fq"], bloom_path,
                                    stream_output=True, spark=spark))
    cap = capsys.readouterr()

    def ids(text):
        lines = text.splitlines()
        return [l[1:] for l in lines[::4]]

    clean_ids, contam_ids = ids(cap.out), ids(cap.err)
    assert len(clean_ids) + len(contam_ids) == fixtures["n_total"]
    assert all(i.startswith("contam") for i in contam_ids)
    assert len(contam_ids) == fixtures["n_contam"]
    # 4-line records round-trip (seq + qual preserved)
    assert cap.out.splitlines()[2] == "+"
    assert report["contaminated_reads"] == fixtures["n_contam"]


def test_bloom_extension_guard(spark, fixtures):
    with pytest.raises(ValueError, match=".bloom extension"):
        facs.query(fixtures["fq"], fixtures["ref"], spark=spark)


def test_query_multi_screen(spark, fixtures, tmp_path):
    """fastq_screen-style multi-filter screening: one pass, per-filter
    contamination rates match ground truth (tests/test_fastqscreen.py
    concordance idea)."""
    rng = np.random.default_rng(77)
    other = tmp_path / "dm3.fasta"
    other.write_text(">chrX\n" + _seq(rng, 4000) + "\n")
    b1 = os.path.join(fixtures["dir"], "ecoli.bloom")
    b2 = str(tmp_path / "dm3.bloom")
    facs.build(str(other), b2, k_mer=16, error_rate=0.0005, spark=spark)
    rep = {r["filter_name"]: r for r in
           facs.query_multi(fixtures["fq"], [b1, b2], spark=spark).collect()}
    assert rep["ecoli.bloom"]["contaminated_reads"] == fixtures["n_contam"]
    assert rep["dm3.bloom"]["contaminated_reads"] == 0
    assert rep["ecoli.bloom"]["total_read_count"] == fixtures["n_total"]


def test_classify_multi_per_filter_k(spark, fixtures, tmp_path):
    """Filters of different k_mer share one kernel pass: each filter's
    rows of classify_multi equal classify_pages with that filter alone
    (own k, own default tole), and classify_pages carries no
    filter_name column."""
    from facs_spark.ops.contamination import (CLASSIFY_COLS, classify_multi,
                                              classify_pages)
    from facs_spark.sketch import BloomFilter
    blooms = {}
    for k in (16, 12):
        path = str(tmp_path / f"ecoli{k}.bloom")
        facs.build(fixtures["ref"], path, k_mer=k, error_rate=0.0005,
                   spark=spark)
        with open(path, "rb") as fh:
            blooms[f"k{k}"] = BloomFilter.from_bytes(fh.read())
        assert blooms[f"k{k}"].k_mer == k
    reads = read_fastx(spark, fixtures["fq"])
    kw = dict(text_col="seq", passthrough=("read_id",),
              canonicalize="dna_revcomp")
    result_cols = [f.split()[0] for f in CLASSIFY_COLS.split(", ")]
    multi = classify_multi(reads, blooms, **kw).collect()
    per_filter = {}
    for name, bloom in blooms.items():
        single = classify_pages(reads, bloom, **kw)
        assert single.columns == ["read_id"] + result_cols
        want = {r["read_id"]: tuple(r[c] for c in result_cols)
                for r in single.collect()}
        got = {r["read_id"]: tuple(r[c] for c in result_cols)
               for r in multi if r["filter_name"] == name}
        assert got == want, name
        per_filter[name] = got
    assert len(multi) == 2 * fixtures["n_total"]
    # the two k's must actually score differently, or this shows nothing
    assert per_filter["k16"] != per_filter["k12"]


def test_info(spark, fixtures):
    meta = facs.info(os.path.join(fixtures["dir"], "ecoli.bloom"))
    assert meta["k_mer"] == 16
    assert meta["inserts"] > 0
    assert 0 < meta["expected_fpr"] < 0.01


def test_banked_broadcast_classify(spark, fixtures, monkeypatch):
    """Forcing tiny banks must not change classification (the >2GB
    broadcast path, SURVEY §4).  The payload is built on the driver,
    so patching the bank size there forces banks."""
    from facs_spark.io.fastx import read_fastx
    from facs_spark.ops.contamination import classify_multi, classify_pages
    from facs_spark.sketch import BloomFilter
    from facs_spark.sketch import bloom as bloom_mod
    bloom_path = os.path.join(fixtures["dir"], "ecoli.bloom")
    with open(bloom_path, "rb") as fh:
        bloom = BloomFilter.from_bytes(fh.read())
    banks = bloom.split_banks(max_bank_bytes=1024)
    assert len(banks) > 3
    rt = BloomFilter.from_banks(banks)
    assert (rt.vector == bloom.vector).all()
    reads = read_fastx(spark, fixtures["fq"])
    kw = dict(text_col="seq", passthrough=("read_id",), tole_rate=0.3,
              canonicalize="dna_revcomp")
    plain = classify_pages(reads, bloom, **kw)
    cm_plain = classify_multi(reads, {"eco": bloom}, **kw)
    monkeypatch.setattr(bloom_mod, "_BANK_BYTES", 1024)
    assert isinstance(bloom.to_payload(), list)
    banked = classify_pages(reads, bloom, **kw)
    # multi-filter screening takes the same banked path
    cm_banked = classify_multi(reads, {"eco": bloom}, **kw)
    a = {r["read_id"]: r["contaminated"] for r in plain.collect()}
    b = {r["read_id"]: r["contaminated"] for r in banked.collect()}
    assert a == b
    ma = {r["read_id"]: r["contaminated"] for r in cm_plain.collect()}
    mb = {r["read_id"]: r["contaminated"] for r in cm_banked.collect()}
    assert ma == mb == a


def test_threshold_sweep_roc(spark, fixtures):
    """ROC-style tole_rate sweep (doc/ROC.m protocol): TPR stays 1.0
    up to a threshold, FPR 0 at all thresholds on disjoint vocab."""
    from facs_spark.io.fastx import read_fastx
    from facs_spark.ops.contamination import classify_pages
    from facs_spark.sketch import BloomFilter
    bloom_path = os.path.join(fixtures["dir"], "ecoli.bloom")
    with open(bloom_path, "rb") as fh:
        bloom = BloomFilter.from_bytes(fh.read())
    reads = read_fastx(spark, fixtures["fq"])
    prev_tp = None
    for tole in (0.1, 0.3, 0.5, 0.9):
        cls = classify_pages(reads, bloom, text_col="seq",
                             passthrough=("read_id",), tole_rate=tole,
                             canonicalize="dna_revcomp")
        rows = cls.collect()
        tp = sum(1 for r in rows
                 if r["contaminated"] and r["read_id"].startswith("contam"))
        fp = sum(1 for r in rows
                 if r["contaminated"] and r["read_id"].startswith("clean"))
        assert fp == 0, f"tole={tole}: false positives"
        if prev_tp is not None:
            assert tp <= prev_tp, "TPR must be monotone in the threshold"
        prev_tp = tp
    # full-overlap reads score ~1.0 → still caught at tole 0.9
    assert prev_tp > 0


def test_partitioning_determinism(spark, fixtures):
    """Same classification output for different partition counts (the
    repartition-invariance side of the scaling protocol)."""
    from facs_spark.io.fastx import read_fastx
    from facs_spark.ops.contamination import classify_pages
    from facs_spark.sketch import BloomFilter
    bloom_path = os.path.join(fixtures["dir"], "ecoli.bloom")
    with open(bloom_path, "rb") as fh:
        bloom = BloomFilter.from_bytes(fh.read())
    reads = read_fastx(spark, fixtures["fq"])
    outs = []
    for nparts in (1, 7):
        cls = classify_pages(reads.repartition(nparts), bloom,
                             text_col="seq", passthrough=("read_id",),
                             tole_rate=0.3, canonicalize="dna_revcomp")
        outs.append(sorted((r["read_id"], r["contaminated"],
                            r["match_time"], round(r["match_score"], 12))
                           for r in cls.collect()))
    assert outs[0] == outs[1]


def test_write_fastx_fasta_roundtrip(spark, fixtures, tmp_path):
    """write_fastx(fasta) output re-reads to the same records."""
    from facs_spark.io.fastx import read_fastx, write_fastx
    reads = read_fastx(spark, fixtures["fq"])
    out = str(tmp_path / "roundtrip.fasta")
    write_fastx(reads, out, fmt="fasta")
    back = read_fastx(spark, os.path.join(out, "part-*"), fmt="fasta")
    a = {(r["read_id"], r["seq"]) for r in reads.collect()}
    b = {(r["read_id"], r["seq"]) for r in back.collect()}
    assert a == b


def test_cli_remove_stream(spark, fixtures, capsys, tmp_path):
    """python -m facs_spark remove --stream: clean records on stdout,
    contam on stderr, report only in --report-file (stdout must stay a
    clean FASTQ stream)."""
    from facs_spark.__main__ import main
    bloom_path = os.path.join(fixtures["dir"], "ecoli.bloom")
    if not os.path.exists(bloom_path):  # independent of test order
        facs.build(fixtures["ref"], bloom_path, k_mer=16,
                   error_rate=0.0005, spark=spark)
    rpt = str(tmp_path / "report.json")
    rc = main(["remove", "-r", bloom_path, "-q", fixtures["fq"],
               "--stream", "--report-file", rpt])
    assert rc == 0
    cap = capsys.readouterr()
    out_lines = cap.out.splitlines()
    assert len(out_lines) % 4 == 0 and out_lines, "stdout must be pure FASTQ"
    assert all(l[1:].startswith("clean") for l in out_lines[::4])
    assert json.load(open(rpt))["contaminated_reads"] == fixtures["n_contam"]


def test_single_file_uri_guard(spark, fixtures, tmp_path):
    """Remote URIs (any scheme://, plus file:) are rejected with a
    clear error for the local single-file sink; local filenames that
    merely CONTAIN a colon (samtools-region style) still write."""
    from facs_spark.io.fastx import write_fastx
    df = read_fastx(spark, fixtures["fq"]).limit(2)
    for bad in ("hdfs://nn/x.fastq", "wasbs://c@a.net/x.fastq",
                "oss://b/x.fastq", "file:/tmp/x.fastq",
                "hdfs:/nn/x.fastq", "FILE:/tmp/x.fastq",
                "chr1:100-200.fastq"):  # relative colon = Hadoop scheme
        with pytest.raises(ValueError, match="local filesystem"):
            write_fastx(df, bad, single_file=True)
    ok = str(tmp_path / "chr1:100-200_clean.fastq")
    write_fastx(df, ok, single_file=True)
    assert os.path.isfile(ok) and open(ok).read().startswith("@")
