"""Skeleton smoke: session builds, tables load, basic CDC operators run."""

from sql_cdc_spark import tables
from sql_cdc_spark.operators import cdc
from tests.conftest import SF_DIR_SMALL


def test_tables_load(spark):
    t = tables.load_all(spark, SF_DIR_SMALL)
    assert set(t) == set(tables.TABLE_NAMES)
    assert t["lineitem"].count() > 0


def test_cdc_operator_chain(spark):
    ev = tables.load(spark, SF_DIR_SMALL, "events").selectExpr(
        "event_id AS change_version", "user_id AS key_id", "event_type AS op"
    )
    bounded = cdc.changes_in_range(ev, 10, 5000)
    latest = cdc.latest_per_key(bounded, ["key_id"])
    batch = cdc.bounded_ordered_batch(latest, 50, "change_version", "key_id")
    rows = batch.collect()
    assert 0 < len(rows) <= 50
    versions = [r.change_version for r in rows]
    assert versions == sorted(versions)


def test_caller_java_options_keep_the_locale_pin(tmp_path):
    """A caller's extraJavaOptions reach the JVM alongside the en_US
    locale pin instead of replacing it. Runs in a fresh process: the
    options only apply when the JVM launches."""
    import json
    import os
    import subprocess
    import sys

    script = """
import json
from sql_cdc_spark.session import get_spark
opts = "-Dsql_cdc_spark.probe=42"
spark = get_spark("locale-pin", master="local[1]", extra_conf={
    "spark.driver.extraJavaOptions": opts,
    "spark.executor.extraJavaOptions": opts,
})
jvm = spark._jvm
print(json.dumps({
    "probe": jvm.java.lang.System.getProperty("sql_cdc_spark.probe"),
    "lang": jvm.java.util.Locale.getDefault().getLanguage(),
    "country": jvm.java.util.Locale.getDefault().getCountry(),
    "executor": spark.sparkContext.getConf().get(
        "spark.executor.extraJavaOptions"),
}))
spark.stop()
"""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        PYTHONPATH=repo,
        SPARK_GRAFT_DRIVER_MEM="512m",
        # a stray locale default must not survive the pin
        JAVA_TOOL_OPTIONS="-Duser.language=tr -Duser.country=TR",
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["probe"] == "42"
    assert (got["lang"], got["country"]) == ("en", "US")
    assert "-Dsql_cdc_spark.probe=42" in got["executor"]
    assert "-Duser.language=en" in got["executor"]


def test_host_sizing_follows_affinity_and_memtotal():
    """With no override the session takes every core it may run on and
    40% of MemTotal as heap; the env overrides win; maxResultSize stays
    below the heap at every size."""
    from sql_cdc_spark.session import host_sizing

    mem_kb = 16_479_424  # a 4-core, 15.7 GiB host
    assert host_sizing({}, 4, mem_kb) == (4, "6437m", 1609)
    env = {"SPARK_GRAFT_CPUS": "8", "SPARK_GRAFT_DRIVER_MEM": "6g"}
    assert host_sizing(env, 4, mem_kb) == (8, "6g", 1536)
    for mem, heap_mb in (("200m", 200), ("1g", 1024), ("48g", 48 * 1024)):
        _, _, max_result = host_sizing({"SPARK_GRAFT_DRIVER_MEM": mem}, 4, mem_kb)
        assert 0 < max_result < heap_mb
