"""The cluster deployment shape must actually launch: package the engine as
a --py-files zip and run jobs through spark-submit with the engine only in
the zip — the checkpoint-encode job (JSON report, resumable rerun), the
index build-and-serve job, and a job that builds its session with
get_spark(), runs a package kernel and reads every task's quick-ACK
mode."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import tempfile
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _engine_zip(tmp: str) -> str:
    """Package the engine as the --py-files zip a cluster job ships."""
    zip_path = os.path.join(tmp, "streamvbyte_spark.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        pkg = os.path.join(REPO, "streamvbyte_spark")
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                full = os.path.join(root, f)
                zf.write(full, os.path.relpath(full, REPO))
    return zip_path


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_encode_job():
    tmp = tempfile.mkdtemp(prefix="svb_submit_")
    try:
        zip_path = _engine_zip(tmp)
        out = os.path.join(tmp, "enc")
        cmd = ["spark-submit", "--master", "local[4]",
               "--py-files", zip_path,
               os.path.join(REPO, "tools", "submit_encode_job.py"),
               "--input", "synthetic:500", "--output", out,
               "--buckets", "8"]
        env = {**os.environ, "PYTHONPATH": ""}  # engine must come from the zip
        r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=300,
                            env=env, cwd=tmp)
        assert r1.returncode == 0, r1.stderr[-2000:]
        rep = json.loads(r1.stdout.strip().splitlines()[-1])
        assert rep["result"]["encoded_buckets"] == 8
        assert rep["docs"] == 500
        assert 0 < rep["ratio"] < 1  # compressed smaller than raw
        # rerun: every bucket committed -> resumable job does nothing
        r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=300,
                            env=env, cwd=tmp)
        assert r2.returncode == 0, r2.stderr[-2000:]
        rep2 = json.loads(r2.stdout.strip().splitlines()[-1])
        assert rep2["result"].get("skipped") is True
        assert rep2["result"]["encoded_buckets"] == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_index_job():
    """The index build's deployment shape: package the engine as a
    --py-files zip, build + store the TF index with spark-submit, and
    serve a probe top-k from the stored table inside the same job."""
    tmp = tempfile.mkdtemp(prefix="svb_submit_idx_")
    try:
        zip_path = _engine_zip(tmp)
        import pyarrow as pa
        import pyarrow.parquet as pq
        docs = [(0, "aa bb aa", "s"), (1, "aa bb", "s"), (2, "aa", "s"),
                (3, "bb aa bb", "s"), (200, "aa bb cc", "s")]
        pq.write_table(pa.table({
            "doc_id": [d[0] for d in docs],
            "text": [d[1] for d in docs],
            "source": [d[2] for d in docs]}), f"{tmp}/documents.parquet")
        out = os.path.join(tmp, "index")
        cmd = ["spark-submit", "--master", "local[4]",
               "--py-files", zip_path,
               os.path.join(REPO, "tools", "submit_index_job.py"),
               "--input", f"{tmp}/documents.parquet", "--output", out,
               "--span", "128", "--probe", "aa,bb", "--and", "aa,bb,cc"]
        env = {**os.environ, "PYTHONPATH": ""}
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=300,
                           env=env, cwd=tmp)
        assert r.returncode == 0, r.stderr[-2000:]
        rep = json.loads(r.stdout.strip().splitlines()[-1])
        assert rep["terms"] == 3 and rep["postings"] == 5 + 4 + 1
        # span 128: dids {0..3} chunk 0 + {200} chunk 1 per term's spread
        assert rep["chunks"] == 2 + 2 + 1
        # probe aa AND bb: docs 0(2+1) 1(1+1) 3(1+2) 200(1+1)
        got = sorted((p["did"], p["score"]) for p in rep["probe"])
        assert got == [(0, 3), (1, 2), (3, 3), (200, 2)]
        # k-way AND served from the SAME stored TF wire (its EF did
        # stream answers set queries): aa&bb&cc -> doc 200 only
        assert rep["and"] == {"terms": ["aa", "bb", "cc"], "n_docs": 1,
                              "first_dids": [200], "min_did": 200}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_GET_SPARK_JOB = """\
import pyarrow as pa

from streamvbyte_spark import encode_table, get_spark
from streamvbyte_spark.session import worker_quickack
from streamvbyte_spark.sources import synthetic_tokens

spark = get_spark(master="local[2]")
spark.sparkContext.setLogLevel("ERROR")
enc = encode_table(synthetic_tokens(spark, 300, avg_len=40, partitions=4))
print(enc.count())


def read(batches):
    quickack = worker_quickack()
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"quickack": [quickack]})


one = spark.range(0, 1, 1, numPartitions=1)
print([one.mapInArrow(read, "quickack long").collect()[0].quickack
       for _ in range(8)])
spark.stop()
"""


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_get_spark_job():
    """A job that builds its session through get_spark() under --py-files:
    the Python workers must import the engine from the per-task py-files
    zip, so get_spark() may not set anything that runs in a worker before
    the task's files are on its path.  The engine imported from the zip
    still turns quick ACK on for every task: 8 single-task jobs on reused
    workers each read TCP_QUICKACK 1 on their socket."""
    tmp = tempfile.mkdtemp(prefix="svb_submit_gs_")
    try:
        zip_path = _engine_zip(tmp)
        job = os.path.join(tmp, "job.py")
        with open(job, "w") as f:
            f.write(_GET_SPARK_JOB)
        cmd = ["spark-submit", "--py-files", zip_path, job]
        env = {**os.environ, "PYTHONPATH": ""}
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=300,
                           env=env, cwd=tmp)
        assert r.returncode == 0, r.stderr[-2000:]
        assert r.stdout.strip().splitlines()[-2:] == ["300", str([1] * 8)]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
