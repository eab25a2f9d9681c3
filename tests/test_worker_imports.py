"""Worker-import self-containment: the driver's verify builds its OWN
SparkSession from an arbitrary cwd, so the repo is on the *driver's*
sys.path only — Python workers don't inherit driver-side sys.path
edits. A worker-side closure that references a module-level function
gets pickled BY REFERENCE by cloudpickle and explodes with
ModuleNotFoundError on the worker (this exact failure shipped once:
the IVF closures calling module-level _assign_cells).

This test reruns the UDF-shipping operators in a subprocess whose cwd
is a temp dir and whose environment carries no PYTHONPATH — the same
conditions as the external driver — so a regression fails here, not in
the driver's gate."""

from __future__ import annotations

import os
import subprocess
import sys

SCRIPT = """
import sys, tempfile, glob
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master('local[2]')
         .config('spark.sql.shuffle.partitions','2')
         .config('spark.ui.enabled','false').getOrCreate())
from stac_geoparquet_spark.operators.similarity import (
    ann_ivf_probe, ivf_cell_assignment, knn_brute_force, ann_lsh_bucketed)
from stac_geoparquet_spark.operators.similarity import (
    ann_pq_adc, pq_encode_codes)
from stac_geoparquet_spark.operators.dedup import (
    dedup_embedding_cosine, semdedup_cells)
from stac_geoparquet_spark.streaming.semdedup import semdedup_incremental
from stac_geoparquet_spark.operators.multimodal import QUERIES as MM
sf = '/root/testdata/sf0.001'
for fn in (ivf_cell_assignment, ann_ivf_probe, knn_brute_force,
           ann_lsh_bucketed, dedup_embedding_cosine, semdedup_cells,
           semdedup_incremental, pq_encode_codes, ann_pq_adc,
           *MM.values()):
    fn(spark, sf).count()
from tests import stac_fixtures as fx
from stac_geoparquet_spark.stac.forward import read_items
from stac_geoparquet_spark.stac.inverse import to_ndjson
src = fx.write_ndjson(fx.naip_like_items(2), tempfile.mkdtemp() + '/in.ndjson')
out = tempfile.mkdtemp() + '/nd'
to_ndjson(read_items(spark, src), out, mode='overwrite')
n = sum(len(open(f).read().splitlines()) for f in glob.glob(out + '/part-*'))
assert n == 2, n
print('WORKER_IMPORTS_OK')
"""


def test_udf_operators_run_with_foreign_cwd(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=repo)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "WORKER_IMPORTS_OK" in proc.stdout


def test_worker_zip_is_shared_by_processes_with_the_same_source(tmp_path):
    """The zip is named by a hash of the package source: two processes
    running the same code resolve to one file, and publishing leaves no
    temp file behind."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    script = (
        f"import sys; sys.path.insert(0, {repo!r}); "
        "from stac_geoparquet_spark.session import worker_zip; "
        "print(worker_zip())"
    )
    paths = [
        subprocess.run(
            [sys.executable, "-c", script],
            env=env,
            capture_output=True,
            text=True,
            timeout=120,
            check=True,
        ).stdout.strip()
        for _ in range(2)
    ]
    assert paths[0] == paths[1]
    assert os.path.dirname(paths[0]) == str(tmp_path)
    assert os.listdir(tmp_path) == [os.path.basename(paths[0])]
