"""The driver JVM's class-data-sharing archive (session.py). Each case
starts a session in a subprocess whose ``session.CDS_DIR`` is a directory
of its own, so the archive under the checkout is never touched."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from vectordb_agentic_rag_spark import session
from vectordb_agentic_rag_spark.plans import RagPipeline
from vectordb_agentic_rag_spark.tables import REPO_ROOT

DOCS = [(1, "alpha beta gamma spark"), (2, "gamma delta window merge"),
        (3, "latest streaming news alpha"), (4, "table join order hash")]
QUERIES = [(0, "alpha gamma"), (1, "latest news"), (2, "join hash table")]

SCRIPT = f"""
import json, sys
sys.path.insert(0, {REPO_ROOT!r})
from vectordb_agentic_rag_spark import session
from vectordb_agentic_rag_spark.plans import RagPipeline
session.CDS_DIR = sys.argv[1]
spark = session.get_spark("cds-test")
jvm = spark._jvm
args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
out = {{"cds": [a for a in args if "SharedArchiveFile" in a or "ArchiveClassesAtExit" in a],
        "conf": jvm.System.getenv("SPARK_CONF_DIR")}}
if len(sys.argv) > 2:
    p = RagPipeline(spark, sys.argv[2], dim=32)
    p.ingest(spark.createDataFrame({DOCS!r}, "doc_id long, text string"))
    q = spark.createDataFrame({QUERIES!r}, "query_id long, query_text string")
    out["rows"] = sorted(list(r) for r in p.query(q).collect())
print(json.dumps(out))
"""


def _session(cds_dir, *argv, cwd=None, **env) -> tuple[dict, list[str]]:
    """The JSON last line of a subprocess session's stdout, and all its
    lines. A first session's process waits at exit for the dumping JVM."""
    run_env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    run_env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g", **env)
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(cds_dir), *map(str, argv)],
        cwd=cwd, env=run_env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    return json.loads(lines[-1]), lines


def _base(cds_dir) -> str:
    base = session._archive_base(str(cds_dir))
    if base is None:
        pytest.skip("this driver class path cannot be archived (real conf dir or class-path env)")
    return base


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """A first session: it finds no archive, starts as before, and at exit
    runs the JVM that dumps one."""
    cds = tmp_path_factory.mktemp("cds")
    base = _base(cds)
    out, lines = _session(cds)
    return cds, base, out, lines


@pytest.fixture(scope="module")
def published(dumped, tmp_path_factory):
    """A second session, logging where each class came from: it publishes
    the first one's dump and maps it."""
    cds, base, _, _ = dumped
    log = tmp_path_factory.mktemp("classload") / "load.log"
    out, _ = _session(cds, PYSPARK_SUBMIT_ARGS=(
        f"--driver-java-options -Xlog:class+load=info:file={log} pyspark-shell"))
    return base, out, log.read_text()


def test_first_session_dumps_quietly(dumped):
    """No archive yet: the session's own JVM gets no CDS flag and keeps
    the caller's conf dir; the process exits once the dumping JVM has
    written a whole dump, and none of that JVM's ~1.2k "[cds]" warnings
    reach stdout."""
    cds, base, out, lines = dumped
    assert out["cds"] == [] and out["conf"] != str(cds / "conf")
    (tmp,) = [f for f in os.listdir(cds) if f.endswith(".tmp")]
    assert os.path.join(cds, tmp).startswith(base + ".")
    assert os.path.getsize(os.path.join(cds, tmp)) > 0
    assert os.path.exists(base + ".cp")
    assert not [ln for ln in lines if "[cds" in ln]


def test_archive_reaches_the_driver_jvm(published):
    """The next session publishes the dump and passes it through
    spark.driver.defaultJavaOptions, beside a caller's own
    --driver-java-options: Spark's classes load from the archive."""
    base, out, log = published
    assert out["cds"] == [f"-XX:SharedArchiveFile={base}.jsa"]
    assert [f for f in os.listdir(os.path.dirname(base)) if f.endswith(".tmp")] == []
    assert log.count("source: shared objects file (top)") > 1000


def _reference_rows(spark, tmp_path):
    p = RagPipeline(spark, str(tmp_path / "ref"), dim=32)
    p.ingest(spark.createDataFrame(DOCS, "doc_id long, text string"))
    q = spark.createDataFrame(QUERIES, "query_id long, query_text string")
    rows = sorted([list(r) for r in p.query(q).collect()])
    p.clear()
    return json.loads(json.dumps(rows))


def test_truncated_archive_is_never_mapped(published, spark, tmp_path):
    """A truncated copy of a good archive, beside the full size record,
    would SIGBUS the JVM: the session starts without it and answers a
    RagPipeline query as any session does. (A live pid's dump marker
    keeps it from dumping a new one.)"""
    good = published[0]
    cds = tmp_path / "cds"
    cds.mkdir()
    base = _base(cds)
    with open(good + ".jsa", "rb") as src, open(base + ".jsa", "wb") as dst:
        dst.write(src.read(os.path.getsize(good + ".jsa") // 2))
    shutil.copy(good + ".size", base + ".size")
    shutil.copy(good + ".cp", base + ".cp")
    open(f"{base}.{os.getpid()}.tmp", "w").close()
    out, _ = _session(cds, tmp_path / "idx")
    assert out["cds"] == []
    assert out["rows"] == _reference_rows(spark, tmp_path)


def test_torn_dump_is_never_published(published, tmp_path):
    """A dead writer's garbage or truncated dump fails the -Xshare:on
    check and is removed, never published; a live writer's is kept. The
    check's JVM crash leaves no hs_err file in the working directory."""
    good = published[0]
    cds = tmp_path / "cds"
    cds.mkdir()
    base = _base(cds)
    shutil.copy(good + ".cp", base + ".cp")
    garbage, torn, live = (f"{base}.{pid}.tmp" for pid in (_dead_pid(), _dead_pid(), os.getpid()))
    with open(garbage, "wb") as f:
        f.write(os.urandom(1 << 20))
    with open(good + ".jsa", "rb") as src, open(torn, "wb") as dst:
        dst.write(src.read(os.path.getsize(good + ".jsa") // 2))
    open(live, "w").close()
    work = tmp_path / "work"
    work.mkdir()
    out, _ = _session(cds, cwd=work)
    assert out["cds"] == []
    assert not os.path.exists(garbage) and not os.path.exists(torn)
    assert os.path.exists(live) and not os.path.exists(base + ".jsa")
    assert os.listdir(work) == []


def test_real_conf_dir_turns_cds_off(tmp_path):
    """A conf directory holding real configuration stays on the class
    path, which CDS refuses: the session starts without an archive and
    with the caller's SPARK_CONF_DIR."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("# no settings\n")
    cds = tmp_path / "cds"
    out, _ = _session(cds, SPARK_CONF_DIR=str(conf))
    assert out == {"cds": [], "conf": str(conf)}
    assert not cds.exists() or [f for f in os.listdir(cds) if f.endswith(".tmp")] == []
