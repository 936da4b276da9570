"""Process-lifetime scratch and oracle handoffs (session._scratch,
session._handoff / _claim_handoff): the oracle SQL text is identical
across processes, a process leaves nothing behind in its temp dir,
and two live processes cannot claim the same handoff."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


def _run(code: str, tmpdir=None, cwd=None, **kw):
    env = dict(os.environ, PYTHONPATH=REPO)
    if tmpdir is not None:
        env["TMPDIR"] = str(tmpdir)
    return subprocess.run([sys.executable, "-c", code], env=env,
                          cwd=cwd or REPO, capture_output=True, text=True,
                          **kw)


def test_oracle_sql_byte_stable():
    """Two separate processes build the same oracle SQL text (no pid
    or other per-process value leaks into it)."""
    code = ("import hashlib, json\n"
            "from facs_spark.queries import oracle_sql\n"
            "print(hashlib.sha256(json.dumps(oracle_sql(), sort_keys=True)"
            ".encode()).hexdigest())\n")
    a, b = _run(code, timeout=120), _run(code, timeout=120)
    assert a.returncode == 0 and b.returncode == 0, a.stderr + b.stderr
    assert a.stdout.strip() == b.stdout.strip()
    assert len(a.stdout.strip()) == 64


def test_no_scratch_left_behind(tmp_path):
    """Staged fixtures, handoffs and the shipped package zip live only
    as long as the process: after a run of the staging queries exits,
    its TMPDIR is empty."""
    tmp, cwd = tmp_path / "tmp", tmp_path / "cwd"
    tmp.mkdir()
    cwd.mkdir()
    code = f"""
import os
from facs_spark import queries as q
from facs_spark.session import get_spark
spark = get_spark("scratch_test", cpus=2)
src, ckpt = q._q38_stage(spark, {SF!r})
assert sorted(os.listdir(src)) == ["0_backfill.parquet", "1_fresh.parquet"]
for fn in (q.q48_snaptable_pruned_scan, q.q49_bucketed_join,
           q.q52_incremental_sketch, q.q57_warc_ingest,
           q.q11_simhash_pairs):
    fn(spark, {SF!r}).collect()
assert os.listdir({str(tmp)!r})
spark.stop()
"""
    r = _run(code, tmpdir=tmp, cwd=cwd, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    assert os.listdir(tmp) == []


def test_handoff_claim_is_exclusive(tmp_path):
    """While one live process holds the q11 handoff, a second claim
    fails loudly; once the holder exits, its dir is gone and the
    handoff can be claimed again."""
    claim = ("from facs_spark.session import _claim_handoff, _handoff\n"
             "_claim_handoff(_handoff('q11_fp'))\n")
    env = dict(os.environ, PYTHONPATH=REPO, TMPDIR=str(tmp_path))
    holder = subprocess.Popen(
        [sys.executable, "-c", claim + "print('held', flush=True)\n"
         "import sys; sys.stdin.read()\n"],
        env=env, cwd=REPO, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        text=True)
    try:
        assert holder.stdout.readline().strip() == "held"
        second = _run(claim, tmpdir=tmp_path, timeout=120)
        assert second.returncode != 0
        assert "held by another live process" in second.stderr
    finally:
        holder.communicate(timeout=60)
    assert holder.returncode == 0
    assert os.listdir(tmp_path) == []
    again = _run(claim, tmpdir=tmp_path, timeout=120)
    assert again.returncode == 0, again.stderr
    assert os.listdir(tmp_path) == []
