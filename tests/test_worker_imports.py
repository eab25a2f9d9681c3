"""Worker imports: the driver's verify builds its OWN SparkSession from
an arbitrary cwd, so the repo is on the *driver's* sys.path only —
Python workers don't inherit driver-side sys.path edits. cloudpickle
pickles a module-level function BY REFERENCE unless its module is
registered to pickle by value, and a by-reference function fails on the
worker with ModuleNotFoundError (this exact failure shipped once: the
IVF closures calling module-level _assign_cells). The package
``__init__`` registers the whole package by value, so worker closures
may call any package function.

This test reruns every worker-shipping path that reaches package code
in a subprocess whose cwd is a temp dir and whose environment carries
no PYTHONPATH — the same conditions as the external driver — and checks
that no file was shipped to the workers, so a regression fails here,
not in the driver's gate."""

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
    ann_ivf_probe, ivf_cell_assignment, knn_brute_force, ann_lsh_bucketed,
    ann_pq_adc, pq_encode_codes, embedding_random_projection,
    hard_negative_mining, knn_label_agreement, matryoshka_recall_report)
from stac_geoparquet_spark.operators.dedup import (
    dedup_embedding_cosine, semdedup_cells)
from stac_geoparquet_spark.streaming.semdedup import semdedup_incremental
from stac_geoparquet_spark.operators.multimodal import QUERIES as MM
sf = '/root/testdata/sf0.001'
for fn in (ivf_cell_assignment, ann_ivf_probe, knn_brute_force,
           ann_lsh_bucketed, dedup_embedding_cosine, semdedup_cells,
           semdedup_incremental, pq_encode_codes, ann_pq_adc,
           matryoshka_recall_report, hard_negative_mining,
           embedding_random_projection, knn_label_agreement,
           *MM.values()):
    fn(spark, sf).count()
import json
from tests import stac_fixtures as fx
from tests.test_pgstac import _rows_fixture
from stac_geoparquet_spark.sources import pgstac
rows_df, base_df = _rows_fixture(spark)
(hydrated,) = pgstac.hydrate_rows(rows_df, base_df).collect()
assert json.loads(hydrated.item_json)['id'] == 'item-1', hydrated
from stac_geoparquet_spark.stac.forward import (
    parse_stac_ndjson_to_geoparquet, read_items)
from stac_geoparquet_spark.stac.inverse import to_ndjson
src = fx.write_ndjson(fx.naip_like_items(2), tempfile.mkdtemp() + '/in.ndjson')
out = tempfile.mkdtemp() + '/nd'
to_ndjson(read_items(spark, src), out, mode='overwrite')
n = sum(len(open(f).read().splitlines()) for f in glob.glob(out + '/part-*'))
assert n == 2, n
gp = tempfile.mkdtemp() + '/gp'
files = parse_stac_ndjson_to_geoparquet(spark, src, gp)
assert spark.read.parquet(*files).count() == 2, files
assert spark.sparkContext._jsc.sc().listFiles().isEmpty()
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

