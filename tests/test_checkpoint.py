"""``util.checkpoint_parquet`` directories: where they are written and
that the process removes them.

One child interpreter (its own Spark session, its own ``TMPDIR``)
checkpoints twice without a checkpoint dir, then once after
``setCheckpointDir``, reports what it saw, stops Spark and exits.
"""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent

CHILD = """
import json, os, sys, tempfile
from pyspark.sql import SparkSession
from perl_html5_dom_spark.util import checkpoint_parquet

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
a = checkpoint_parquet(spark.range(10), "t")
b = checkpoint_parquet(spark.range(5), "t")
spark.sparkContext.setCheckpointDir(sys.argv[1])
c = checkpoint_parquet(spark.range(3), "t")
print(json.dumps({
    "counts": [a.count(), b.count(), c.count()],
    "tmp_live": sorted(os.listdir(tempfile.gettempdir())),
    "set_files": c.inputFiles(),
}))
spark.stop()
"""


@pytest.fixture(scope="module")
def child(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("child_tmp")
    ckpt = tmp_path_factory.mktemp("child_ckpt")
    env = dict(os.environ, TMPDIR=str(tmp),
               PYTHONPATH=os.pathsep.join(
                   [str(ROOT), os.environ.get("PYTHONPATH", "")]))
    out = subprocess.run([sys.executable, "-c", CHILD, str(ckpt)],
                         cwd=ROOT, env=env, capture_output=True,
                         text=True, timeout=300, check=True)
    report = json.loads(out.stdout.strip().splitlines()[-1])
    return tmp, ckpt, report


def _graft_dirs(root: Path) -> list[str]:
    return sorted(str(p) for p in root.rglob("spark_graft_*"))


def test_checkpoint_dirs_removed_at_exit(child):
    tmp, _, report = child
    assert report["counts"] == [10, 5, 3]
    live = [n for n in report["tmp_live"] if n.startswith("spark_graft_t_")]
    assert len(live) == 2            # both were there while in use
    assert _graft_dirs(tmp) == []    # and none is left after exit


def test_checkpoint_dir_setting_is_honoured(child):
    _, ckpt, report = child
    assert report["set_files"]
    for f in report["set_files"]:
        assert f.startswith(ckpt.as_uri()), f
        assert "/spark_graft_t_" in f
    assert _graft_dirs(ckpt) == []
