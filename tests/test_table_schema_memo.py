"""``load_table`` infers each file's parquet schema once per session.

Schema inference runs a Spark job on every plain ``spark.read.parquet``;
``load_table`` keeps the inferred schema on the session object, keyed by
the file's stat stamp and the parquet-inference confs, and reads with it
on later calls. Each call still builds a fresh relation.
"""

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from hdfe_spark.sources.tables import _SCHEMA_MEMO_ATTR, load_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_repeat_load_table_runs_no_job(spark, sf_dir, count_jobs):
    load_table(spark, "orders", sf_dir)
    assert count_jobs(lambda: load_table(spark, "orders", sf_dir)) == 0


def test_rewritten_file_is_inferred_again(spark, tmp_path, count_jobs):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load_table(spark, "region", str(tmp_path)).columns == ["r_regionkey"]
    assert count_jobs(lambda: load_table(spark, "region", str(tmp_path))) == 0

    pq.write_table(pa.table({"r_regionkey": [0, 1, 2], "r_name": ["a", "b", "c"]}), path)
    df = load_table(spark, "region", str(tmp_path))
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(r.r_name for r in df.collect()) == ["a", "b", "c"]
    memo = vars(spark)[_SCHEMA_MEMO_ATTR]
    assert [k for k in memo if k.startswith(str(tmp_path))] == [str(path)]


def test_inference_conf_change_is_inferred_again(spark, tmp_path):
    pq.write_table(pa.table({"n_name": pa.array([b"x"], pa.binary())}), tmp_path / "nation.parquet")
    conf = "spark.sql.parquet.binaryAsString"
    assert load_table(spark, "nation", str(tmp_path)).schema["n_name"].dataType.typeName() == "binary"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        df = load_table(spark, "nation", str(tmp_path))
        assert df.schema["n_name"].dataType.typeName() == "string"
    finally:
        spark.conf.set(conf, old)


def test_self_join_matches_plain_reads(spark, sf_dir):
    a, b = load_table(spark, "nation", sf_dir), load_table(spark, "nation", sf_dir)
    got = a.join(b, a["n_nationkey"] == b["n_regionkey"]).collect()
    path = os.path.join(sf_dir, "nation.parquet")
    c, d = spark.read.parquet(path), spark.read.parquet(path)
    want = c.join(d, c["n_nationkey"] == d["n_regionkey"]).collect()
    assert got and sorted(map(tuple, got)) == sorted(map(tuple, want))


_AFTER_STOP = """
import json, sys, uuid
from hdfe_spark.session import get_spark
from hdfe_spark.sources.tables import load_table

def jobs(spark, fn):
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))

sf_dir = sys.argv[1]
out = []
for _ in range(2):
    spark = get_spark(app_name="memo_after_stop")
    out += [jobs(spark, lambda: load_table(spark, "region", sf_dir)) for _ in range(2)]
    spark.stop()
print(json.dumps(out))
"""


def test_session_after_stop_infers_again(sf_dir):
    """The memo lives on the session object: a session started after
    ``stop()`` reads the file's schema again. Runs in its own process,
    since stopping the suite's shared session would end it for every
    later test."""
    env = {**os.environ, "SPARK_GRAFT_CPUS": "1", "SPARK_DRIVER_MEM": "512m", "PYTHONPATH": REPO}
    res = subprocess.run(
        [sys.executable, "-c", _AFTER_STOP, sf_dir],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    first_cold, first_warm, second_cold, second_warm = json.loads(res.stdout.strip().splitlines()[-1])
    assert first_cold >= 1 and second_cold >= 1, res.stdout
    assert first_warm == 0 and second_warm == 0, res.stdout
