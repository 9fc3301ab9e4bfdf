"""The driver JVM's class-data archive (``session._ClassDataArchive``).

Each case starts its session in a subprocess with its own
``XDG_CACHE_HOME``, so the archive lifecycle runs from a cold cache and
the interpreter exit that builds the archive is a real one. The
module's one archive dump (about 35 s) is paid once, in ``recorded``.
"""

import json
import os
import subprocess
import sys
import tempfile

import pytest

from ocr_agent_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Prints the session's mapped files under the cache, a job's result and
# the probe conf on stdout, which must hold nothing else.
PROBE = """
import json, os
from ocr_agent_spark.session import build_spark
conf_dir = os.environ.get("SPARK_CONF_DIR")
spark = build_spark(cores=1, extra_conf={"spark.driver.memory": "1g",
                                          "spark.ui.showConsoleProgress": "false"})
spark.sparkContext.setLogLevel("ERROR")
pid = spark._jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{pid}/maps") as fh:
    paths = {line.split(None, 5)[5].strip() for line in fh if len(line.split(None, 5)) == 6}
print(json.dumps({
    "mapped": sorted(p for p in paths if p.startswith(os.environ["XDG_CACHE_HOME"])),
    "count": spark.range(5).count(),
    "conf_dir_kept": os.environ.get("SPARK_CONF_DIR") == conf_dir,
    "probe": spark.conf.get("spark.ocr.cdsprobe", None),
}))
"""

# A second build_spark in the process that launched the JVM; exits
# without the recorder's dump.
SECOND = """
import json, os, sys
from ocr_agent_spark.session import build_spark
cds = os.path.join(os.environ["XDG_CACHE_HOME"], "ocr_agent_spark", "cds")
spark = build_spark(cores=1, extra_conf={"spark.driver.memory": "1g"})
spark.sparkContext.setLogLevel("ERROR")
opts = spark.conf.get("spark.driver.defaultJavaOptions")
env, files = dict(os.environ), sorted(os.listdir(cds))
spark = build_spark(cores=2)
print(json.dumps({"env_same": env == dict(os.environ), "files": files,
                  "files_after": sorted(os.listdir(cds)),
                  "opts_same": spark.conf.get("spark.driver.defaultJavaOptions") == opts}))
sys.stdout.flush()
os._exit(0)
"""


def _run(cache, code=PROBE, conf_dir=None):
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    env["XDG_CACHE_HOME"] = cache
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, env.get("PYTHONPATH")]))
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = conf_dir
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                         timeout=300, env=env, cwd=REPO)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 1, out.stdout  # nothing but the probe's line
    return json.loads(lines[0])


def _cds_dir(cache):
    return os.path.join(cache, "ocr_agent_spark", "cds")


def _key():
    from pyspark.find_spark_home import _find_spark_home

    return session._archive_key(session._java_home(),
                                os.path.join(_find_spark_home(), "jars"))


@pytest.fixture(scope="module")
def recorded():
    """A cache after one session's exit, which began with a truncated
    archive planted at the dump's temp name."""
    from pyspark.find_spark_home import _find_spark_home

    if not os.path.exists("/proc/self/maps") or session._java_home() is None:
        pytest.skip("needs /proc and a JDK")
    site_conf = os.path.join(_find_spark_home(), "conf")
    if any(not n.endswith(".template") for n in os.listdir(site_conf)):
        pytest.skip("the host's Spark conf dir is not empty: no archive by design")
    with tempfile.TemporaryDirectory() as cache:
        cds, key = _cds_dir(cache), _key()
        os.makedirs(cds)
        jdk_archive = os.path.join(session._java_home(), "lib", "server", "classes.jsa")
        with open(jdk_archive, "rb") as src, open(os.path.join(cds, key + ".jsa.tmp"), "wb") as dst:
            dst.write(src.read(1 << 20))
        first = _run(cache)
        yield {"cache": cache, "key": key, "first": first, "files": sorted(os.listdir(cds))}


def test_first_session_exit_leaves_exactly_one_archive(recorded):
    first = recorded["first"]
    assert first["count"] == 5 and first["conf_dir_kept"]
    assert first["mapped"] == []  # the planted temp file was never mapped
    assert recorded["files"] == [recorded["key"] + ".jsa"]  # no temp, list or lock


def test_next_session_maps_the_archive(recorded):
    cache = recorded["cache"]
    out = _run(cache)
    assert out["mapped"] == [os.path.join(_cds_dir(cache), recorded["key"] + ".jsa")]
    assert out["count"] == 5 and out["conf_dir_kept"]


def test_unwritable_cache_still_starts(tmp_path):
    not_a_dir = tmp_path / "cache"
    not_a_dir.write_text("a file where the cache dir would be")
    out = _run(str(not_a_dir))
    assert out["count"] == 5 and out["mapped"] == []


def test_site_conf_dir_is_kept_and_no_archive_used(recorded, tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.ocr.cdsprobe 1\n")
    # A cold cache: nothing is recorded.
    cold = tmp_path / "cold"
    out = _run(str(cold), conf_dir=str(conf))
    assert out["probe"] == "1" and out["count"] == 5
    assert not os.path.isdir(_cds_dir(str(cold))) or os.listdir(_cds_dir(str(cold))) == []
    # A cache holding the archive: it is not mapped.
    warm = tmp_path / "warm"
    os.makedirs(_cds_dir(str(warm)))
    name = recorded["key"] + ".jsa"
    link = os.path.join(_cds_dir(str(warm)), name)
    os.link(os.path.join(_cds_dir(recorded["cache"]), name), link)
    try:
        out = _run(str(warm), conf_dir=str(conf))
        assert out["probe"] == "1" and out["mapped"] == []
        assert os.listdir(_cds_dir(str(warm))) == [name]
    finally:
        os.unlink(link)  # pytest keeps recent tmp dirs; the archive is ~190 MB


def test_second_build_spark_records_nothing(tmp_path):
    out = _run(str(tmp_path), code=SECOND)
    key = _key()
    assert out["files"] == sorted([key + ".classlist", key + ".lock"])  # the first call records
    assert out["files_after"] == out["files"]
    assert out["env_same"]
    assert out["opts_same"]
