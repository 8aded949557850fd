"""The driver JVM options ``build_session`` adds."""

import os
import subprocess
import sys

import pytest

from rapids_and_rivers_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# prints the flag the driver JVM actually runs with
_CHILD = """
from rapids_and_rivers_spark import build_session

spark = build_session("code_cache", master="local[1]")
jvm = spark.sparkContext._jvm
bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
)
print("ReservedCodeCacheSize", bean.getVMOption("ReservedCodeCacheSize").getValue())
spark.stop()
"""


def test_c1_only_driver_reserves_the_tiered_code_cache():
    """A driver JVM limited to C1 gets the 240 MB code cache HotSpot gives
    a tiered JVM, not its 48 MB C1-only default, which the engine's
    compiled working set outgrows. The child sizes its own heap: this
    process's driver already holds most of the default."""
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("JDK_JAVA_OPTIONS", "PYSPARK_SUBMIT_ARGS")
    }
    env.update(
        JAVA_TOOL_OPTIONS="-XX:TieredStopAtLevel=1",
        SPARK_DRIVER_MEMORY="1g",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
    )
    out = subprocess.run(
        [sys.executable, "-c", _CHILD],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert f"ReservedCodeCacheSize {240 << 20}" in out.stdout.splitlines()


@pytest.fixture
def no_java_env(monkeypatch):
    monkeypatch.delenv("JAVA_TOOL_OPTIONS", raising=False)
    monkeypatch.delenv("JDK_JAVA_OPTIONS", raising=False)


def test_code_cache_option_is_added_when_nothing_names_it(no_java_env):
    assert session._driver_java_options({}) == "-XX:ReservedCodeCacheSize=240m"


def test_code_cache_option_is_appended_to_the_callers_options(no_java_env):
    conf = {"spark.driver.extraJavaOptions": "-Dx=1 -XX:+UseG1GC"}
    assert (
        session._driver_java_options(conf)
        == "-Dx=1 -XX:+UseG1GC -XX:ReservedCodeCacheSize=240m"
    )


@pytest.mark.parametrize("var", ["JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS"])
def test_a_code_cache_size_in_the_environment_wins(no_java_env, monkeypatch, var):
    monkeypatch.setenv(var, "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=64m")
    assert session._driver_java_options({}) is None
    conf = {"spark.driver.extraJavaOptions": "-Dx=1"}
    assert session._driver_java_options(conf) == "-Dx=1"


@pytest.mark.parametrize(
    "key", ["spark.driver.extraJavaOptions", "spark.driver.defaultJavaOptions"]
)
def test_a_code_cache_size_in_extra_conf_wins(no_java_env, key):
    conf = {key: "-XX:ReservedCodeCacheSize=64m"}
    assert session._driver_java_options(conf) == conf.get(
        "spark.driver.extraJavaOptions"
    )
