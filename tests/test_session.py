"""The session constants get_spark fixes for every crawl: the Arrow
batch caps (the byte cap is the Python-socket liveness bound), the parquet
reader batch, AQE, speculation off in local mode, and the driver JVM's JIT
profile. The profile is checked where it takes effect, in the running JVM's
input arguments: in the test session, and in a fresh session whose caller
passes its own ``spark.driver.extraJavaOptions`` (as perfbench does), which
must add to the profile, not replace it."""

import json
import os
import subprocess
import sys

from acrawler_spark.session import DRIVER_JIT_FLAGS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_session_constants(spark):
    conf = dict(spark.sparkContext.getConf().getAll())
    assert conf["spark.sql.execution.arrow.maxBytesPerBatch"] == "1048576"
    assert conf["spark.sql.execution.arrow.maxRecordsPerBatch"] == "8192"
    assert conf["spark.sql.parquet.columnarReaderBatchSize"] == "512"
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.speculation"] == "false"
    # in the key a caller's own extraJavaOptions cannot replace
    assert conf["spark.driver.defaultJavaOptions"] == " ".join(DRIVER_JIT_FLAGS)


def test_jit_profile_reaches_the_jvm(spark):
    bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = list(bean.getInputArguments())
    assert DRIVER_JIT_FLAGS and all(f.startswith("-XX:") for f in DRIVER_JIT_FLAGS)
    missing = [f for f in DRIVER_JIT_FLAGS if f not in args]
    assert not missing, f"JIT flags missing from the JVM's arguments: {missing}"


_CHILD = """
import json, sys
from acrawler_spark.session import get_spark
spark = get_spark("jit_profile", master="local[1]", shuffle_partitions=1,
                  extra_conf={"spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + sys.argv[1]})
bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps(list(bean.getInputArguments())))
spark.stop()
"""


def test_jit_profile_survives_caller_java_options(tmp_path):
    env = dict(os.environ, ACRAWLER_DRIVER_MEM="1g", PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, str(tmp_path)],
        env=env, cwd=str(tmp_path), capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    args = json.loads(out.stdout.strip().splitlines()[-1])
    assert f"-Djava.io.tmpdir={tmp_path}" in args
    missing = [f for f in DRIVER_JIT_FLAGS if f not in args]
    assert not missing, f"caller's extraJavaOptions dropped the JIT flags: {missing}"
