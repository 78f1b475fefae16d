"""UDF closures run on Python workers that cannot import talna_spark.

The suite runs from the repo root, where a worker finds the package
through ``sys.path[0]``; a session started elsewhere (cwd outside the
repo, no PYTHONPATH) only works because the package pickles itself by
value. This test starts such a session in a subprocess and checks that
a unigram encode, an MJPEG synth + decode and the sliced greedy
bucketizer return the rows this session computes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MODEL = [("a", -2.0), ("b", -2.5), ("ab", -1.5), ("the", -1.0), ("he", -3.0)]
POINTS = [
    ("x" if i % 3 else "y", 1_000 * i + (i % 7) * 40, float(i % 5) + 0.25)
    for i in range(60)
]


def run(spark, sf_dir, model, points) -> dict:
    """The checked operators, collected as sorted row lists."""
    from pyspark.sql import functions as F

    from talna_spark.aggregate import greedy_buckets_sliced
    from talna_spark.pipeline.multimodal import mjpeg_decode
    from talna_spark.pipeline.unigram import unigram_encode

    pts = spark.createDataFrame(points, "g string, ts long, value double")
    frames = {
        "unigram": unigram_encode(spark, sf_dir, model),
        "mjpeg": mjpeg_decode(spark, sf_dir),
        "greedy": greedy_buckets_sliced(pts, F.col("g"), "avg", 1_500, 9_000),
    }
    return {k: sorted(map(list, df.collect())) for k, df in frames.items()}


_DRIVER = """
import json
import sys

sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from tests.test_foreign_cwd import run

print(json.dumps(run(spark, **json.loads(sys.argv[2]))))
spark.stop()
"""


def test_udfs_run_from_foreign_cwd(spark, tmp_path):
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    texts = ["the cat", "a b ab", "abba the", None, "héllo ab", "he the a"]
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()),
                  "text": pa.array(texts, pa.string())}),
        sf_dir / "documents.parquet",
    )
    args = {"sf_dir": str(sf_dir), "model": MODEL, "points": POINTS}

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER, REPO, json.dumps(args)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])

    want = json.loads(json.dumps(run(spark, **args)))
    assert got == want
    assert all(got[k] for k in ("unigram", "mjpeg", "greedy"))
