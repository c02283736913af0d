"""SparkSession factory tuned for the local[32] test harness.

On a real cluster the same knobs apply, minus master/driver-memory:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow on (Pandas-UDF exchange), UTC session timezone (fixtures carry
ns/ms timestamps; see FIXTURES.md "Oracle parity rules").

Python workers start from ``worker_daemon`` (``spark.python.daemon.module``)
instead of ``pyspark.daemon``. Each Python task calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``);
before CPython 3.13 that makes each of the worker's 16 ``zipimporter``s
(pyspark.zip and 12 subpackage prefixes, the py4j zip and its prefix, the
spark-core jar and its ``org`` prefix) re-read its archive's central
directory, 26,672 entries: 138-188 ms a task on a 4-vCPU VM, against
0.1-0.2 ms when the daemon re-reads an archive only after its mtime or
size changed. Collecting a 1-row Python-list DataFrame (2 task threads)
took 258-299 ms before and 128-216 ms after, a JVM-only job 45-96 ms.
``spark.executorEnv.PYTHONPATH`` carries this checkout. Spark starts the
daemon with ``python -m``, which puts the driver's working directory first
on ``sys.path``: a directory holding another copy of the package (a second
checkout, or any ``vectordb_agentic_rag_spark/__init__.py``) would shadow
this one, and every Python task would fail with "No module named
vectordb_agentic_rag_spark.worker_daemon". ``spark.executorEnv.PYTHONSAFEPATH``
keeps the working directory off the path (honoured from Python 3.11). (The
sessions here are local, so the executors see the driver's checkout.)

The driver JVM starts from an application class-data-sharing (CDS)
archive, so the classes Spark loads to start are mapped instead of parsed
and verified on every start. The archive is built on the machine, by the
JDK that runs it:

- It lives in ``_scratch/cds/<key>.jsa`` (``CDS_DIR``). The key hashes the
  java binary and ``libjvm.so``, every jar in ``$SPARK_HOME/jars`` (path,
  size, mtime) and the conf directory below: the driver's whole class
  path. A changed JDK or Spark gets a new archive; delete ``_scratch/cds/``
  to drop them all.
- JDK 17 cannot create an archive on demand (``-XX:+AutoCreateSharedArchive``
  is JDK 19+), only with ``-XX:ArchiveClassesAtExit`` as a JVM exits. A
  session that finds no archive starts as before, and at exit its process
  runs one more driver JVM that starts Spark, runs ``spark.range(1)`` and
  exits, dumping to ``<key>.<pid>.tmp`` (about 25 s, 130 MB). Only start-up
  classes go in: an archive of a whole perfbench chat run (210 MB) made
  its timed calls ~9% slower in 10 of 10 pairs, likely because archived
  methods run non-quickened bytecodes in the interpreter.
- The next session publishes the dump: once the writer's pid is dead and
  ``java -Xshare:on`` maps it (that mode fails instead of falling back,
  and a torn file fails or crashes it), an atomic ``os.replace`` makes it
  ``<key>.jsa`` and ``<key>.size`` records its size. Later sessions pass
  ``-XX:SharedArchiveFile=<key>.jsa`` when the size still matches: a
  truncated archive SIGBUSes the JVM even under the default
  ``-Xshare:auto``, so it is never handed over. A stale or mismatched one
  falls back to a normal start.
- CDS refuses a class path that holds a non-empty directory, and Spark
  puts its conf directory first on it. When that directory holds only
  ``*.template`` files (as a pip-installed or unpacked Spark ships it),
  ``SPARK_CONF_DIR`` points at the empty ``_scratch/cds/conf`` while the
  JVM launches; a conf directory with real configuration, or any other
  launcher class-path setting, turns CDS off rather than hide it.
- The flags go through ``spark.driver.defaultJavaOptions``, so a caller's
  ``--driver-java-options`` (``extraJavaOptions``) still applies, and
  ``-Xlog:cds=off -Xlog:cds+dynamic=off`` keeps the JVM's CDS warnings
  (~1.2k lines while dumping) off stdout.
- Only the driver benefits: executors on a cluster start without it.
  Nothing of this runs unless ``getOrCreate`` is about to launch a JVM.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shutil
import subprocess
import sys

from pyspark import SparkContext
from pyspark.sql import SparkSession

from .tables import REPO_ROOT, SCRATCH

CDS_DIR = os.path.join(SCRATCH, "cds")
_CDS_QUIET = ("-Xlog:cds=off", "-Xlog:cds+dynamic=off")
# launcher inputs that add to the driver class path; a non-empty directory
# there fails the dump at JVM exit
_CLASSPATH_ENV = ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                  "SPARK_PREPEND_CLASSES", "SPARK_TESTING")
# the caller's launch settings, left out of the dumping JVM: perfbench's
# point into a work directory it has deleted by then
_CALLER_ENV = ("PYSPARK_SUBMIT_ARGS", "SPARK_LOCAL_DIRS", "TMPDIR")
_DUMP_SCRIPT = (
    "import sys; sys.path.insert(0, sys.argv[1]); "
    "from vectordb_agentic_rag_spark import session; session._dump_here(sys.argv[2])"
)


def _java() -> str | None:
    """The java binary spark-class runs."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _archive_base(cds_dir: str) -> str | None:
    """``<cds_dir>/<key>``, or None when the driver JVM about to launch
    cannot use an archive."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    java = _java()
    if (
        java is None
        or (os.path.isdir(conf)
            and any(not n.endswith(".template") for n in os.listdir(conf)))
        or any(os.environ.get(v) for v in _CLASSPATH_ENV)
        or "extraClassPath" in submit or "--driver-class-path" in submit
    ):
        return None
    jdk = os.path.dirname(os.path.dirname(java))
    libjvm = glob.glob(os.path.join(jdk, "lib", "*", "libjvm.so"))
    jars = sorted(glob.glob(os.path.join(spark_home, "jars", "*")))
    h = hashlib.sha256(os.path.join(cds_dir, "conf").encode())
    for path in [java, *libjvm, *jars]:
        st = os.stat(path)
        h.update(f"\0{path}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return os.path.join(cds_dir, h.hexdigest()[:16])


def _intact(base: str) -> bool:
    try:
        with open(base + ".size") as f:
            return os.path.getsize(base + ".jsa") == int(f.read())
    except (OSError, ValueError):
        return False


def _alive(pid: int) -> bool:
    if pid == os.getpid():
        return True
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _write(path: str, text: str) -> None:
    part = f"{path}.{os.getpid()}.part"
    with open(part, "w") as f:
        f.write(text)
    os.replace(part, path)


def _publish(base: str) -> None:
    """Make a finished dump ``<base>.jsa``; remove the dumps that cannot
    be mapped and the ones left over once one is published."""
    try:
        with open(base + ".cp") as f:
            class_path = f.read()
    except OSError:
        class_path = None
    published = False
    for tmp in glob.glob(glob.escape(base) + ".*.tmp"):
        pid = tmp[len(base) + 1:-len(".tmp")]
        if pid.isdigit() and _alive(int(pid)):
            continue
        try:
            if not published and class_path is not None and subprocess.run(
                [_java(), "-Xshare:on", f"-XX:SharedArchiveFile={tmp}",
                 "-XX:-CreateCoredumpOnCrash", "-XX:ErrorFile=/dev/null",
                 *_CDS_QUIET, "-cp", class_path, "-version"],
                stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
            ).returncode == 0:
                _write(base + ".size", str(os.path.getsize(tmp)))
                os.replace(tmp, base + ".jsa")
                published = True
            else:
                os.remove(tmp)
        except OSError:  # another session published or removed it first
            pass


def _with_archive(builder, base: str, flag: str) -> SparkSession:
    """``builder.getOrCreate()`` with ``flag`` on the driver JVM and the
    empty conf dir on its class path."""
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(os.path.dirname(base), "conf")
    try:
        return builder.config(
            "spark.driver.defaultJavaOptions",
            " ".join(f'"{o}"' for o in (flag, *_CDS_QUIET)),
        ).getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _dump(tmp: str) -> None:
    """Run a driver JVM that starts Spark, runs one job and exits, writing
    the classes it loaded to ``tmp`` as it exits: this process stays alive
    until the dump is whole."""
    subprocess.run(
        [sys.executable, "-c", _DUMP_SCRIPT, REPO_ROOT, tmp],
        env={k: v for k, v in os.environ.items() if k not in _CALLER_ENV},
        stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL, timeout=600, check=False,
    )


def _dump_here(tmp: str) -> None:
    base = tmp.rsplit(".", 2)[0]
    spark = _with_archive(_builder("cds-dump"), base, f"-XX:ArchiveClassesAtExit={tmp}")
    spark.range(1).collect()
    _write(base + ".cp", spark._jvm.System.getProperty("java.class.path"))
    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits, and dumps, when its stdin closes
    proc.wait()


def _builder(app_name: str) -> SparkSession.Builder:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Shuffle-partition sizing: at fixture scale every shuffle is tiny, so
    # reduce-task scheduling dominates — 8 partitions beats 32 by ~30% on
    # the headline bench (1.15 vs 1.71 s) with AQE still coalescing below
    # that. On a cluster, size to total_shuffle_bytes / 128MB (thousands at
    # 100 TB) and let AQE coalesce; this knob is the env override for that.
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    # Scan-split sizing: fixture files are ~10 MB, so the default 128 MB
    # maxPartitionBytes plans a 3-task scan that leaves 29 of 32 cores
    # idle — 512k splits halve the scan-heavy queries (agg 587->329 ms).
    # On a cluster keep the default: 100 TB / 128 MB already yields ~800k
    # splits; the env override exists for that.
    max_split = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "512k")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.files.maxPartitionBytes", max_split)
        .config("spark.sql.files.openCostInBytes", "16k")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: tasks are always PROCESS_LOCAL — don't wait for locality
        .config("spark.locality.wait", "0")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "vectordb_agentic_rag_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", REPO_ROOT)
        .config("spark.executorEnv.PYTHONSAFEPATH", "1")
    )


def get_spark(app_name: str = "vectordb-rag-spark") -> SparkSession:
    builder = _builder(app_name)
    base = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        base = _archive_base(CDS_DIR)  # None: no JVM to launch, or no archive for it
    if base is None:
        return builder.getOrCreate()
    os.makedirs(os.path.join(CDS_DIR, "conf"), exist_ok=True)
    if not _intact(base):
        _publish(base)
    if _intact(base):
        return _with_archive(builder, base, f"-XX:SharedArchiveFile={base}.jsa")
    if not glob.glob(glob.escape(base) + ".*.tmp"):  # no live session is dumping
        tmp = f"{base}.{os.getpid()}.tmp"
        open(tmp, "w").close()  # marks the dump in progress until this pid exits
        atexit.register(_dump, tmp)
    return builder.getOrCreate()
