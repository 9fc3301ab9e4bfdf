"""SparkSession construction with scale-oriented defaults.

Single place where execution knobs live so tests, bench and jobs agree:
AQE on (runtime re-plan + skew-join splitting), Arrow on with batches
sized to "thousands of documents per invocation" (BASELINE north_star),
Python worker reuse so kernel module state loads once per worker, a
worker daemon (``worker_daemon``) that loads it before forking so a new
worker does not import it inside its first task, UTC session timezone
for deterministic timestamp round-trips.

There is deliberately no scan-split override: splits follow Spark's own
bytes-per-core rule, ``min(maxPartitionBytes, max(openCostInBytes,
totalBytes / defaultParallelism))``, where ``totalBytes`` charges each
file its open cost. That packs a small corpus into about one split per
core, so the fused extraction (one Python task per split) runs as one
wave. A Python task has a fixed cost before any program code runs.
With pyspark's stock daemon it was 0.15-0.26 s on a 4-vCPU host,
nearly all of it pyspark's per-task ``importlib.invalidate_caches()``,
which makes every ``zipimporter`` re-read its archive's directory
(``pyspark.zip``, and the ``spark-core`` jar Spark puts on the
workers' ``PYTHONPATH``). ``worker_daemon`` skips the re-read of an
unchanged archive, so that call takes 0.2-0.5 ms and a warm trivial
3-task Python job 0.16-0.19 s in place of about 0.53 s. Each extra
wave of Python tasks still costs wall time, so a smaller split cap
buys overhead, not parallelism. A deployment that wants another split
size sets Spark's ``spark.sql.files.maxPartitionBytes`` through
``extra_conf`` or its Spark defaults.

``cores`` defaults to ``SPARK_GRAFT_CPUS`` or else to the CPUs this
process may run on (its affinity mask, not the machine's count), since
``local[N]``'s N is the size of that wave.

The driver JVM starts from a class-data archive (JDK AppCDS) of the
~17,000 classes a session loads from the Spark jars, so it maps them
in place of loading and verifying them: session start-up is about 4 s
shorter on a 4-vCPU host. The archive lives in the user cache,
``${XDG_CACHE_HOME:-~/.cache}/ocr_agent_spark/cds/<key>.jsa``, keyed
by a hash of the JDK (``java.home`` and the size and mtime of its
``lib/modules``) and of the Spark jars (name, size and mtime of each).
Its lifecycle:

- With no archive for the key, the session that launches the JVM takes
  the key's lock (an ``O_EXCL`` file naming its pid; a dead pid's lock
  is stale) and records the classes the JVM loads
  (``-XX:DumpLoadedClassList``, no measurable cost). At interpreter
  exit it ends the JVM and builds the archive once with
  ``java -Xshare:dump`` on the JVM's classpath and ``--add-modules``:
  about 35 s and ~190 MB on disk, once per host and key. It checks that
  ``java -Xshare:on`` maps the new file before renaming it into place
  (a truncated archive crashes the JVM that maps it), then deletes the
  archives of other keys. A failed dump is remembered for its key.
- Later sessions pass ``-XX:SharedArchiveFile`` through
  ``spark.driver.defaultJavaOptions``, which Spark puts before
  ``spark.driver.extraJavaOptions``, so a caller's options still apply.
  CDS logging is off: a rejected archive would warn on the JVM's
  stdout, which the CLI shares.

An archive matches only the classpath it was dumped with, which begins
with Spark's conf dir, and JDK 17 dumps no classpath holding a
non-empty directory. So an archive is used only when the effective conf
dir (``SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``) is absent or holds
nothing but ``*.template`` files, and the launch (only) then sees
``SPARK_CONF_DIR`` set to an empty dir in the cache. A conf dir holding
anything Spark reads means no archive: site configuration is never
dropped. Nothing happens when the call does not launch the JVM
(``spark-submit``, or a gateway already up) or sets
``spark.driver.extraClassPath``, and a cache dir that cannot be written
means no archive. There is no knob; deleting the cache is safe.
"""

from __future__ import annotations

import atexit
import contextlib
import ctypes
import hashlib
import os
import shutil
import signal
import subprocess
import time

from pyspark.sql import SparkSession

DEFAULT_ARROW_BATCH_ROWS = 2048
_PR_SET_PDEATHSIG = 1


def build_spark(
    app_name: str = "ocr-agent-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(cores_env) if cores_env else len(os.sched_getaffinity(0))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 32)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(DEFAULT_ARROW_BATCH_ROWS),
        )
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.daemon.module", "ocr_agent_spark.worker_daemon")
        .config("spark.sql.session.timeZone", "UTC")
        # Transient-failure retry: the reference retries SQLite connects
        # with backoff (queue_store.py:205-227 in the reference repo);
        # Spark's analogue is per-task retry — a task that dies on a
        # transient I/O error (object-store hiccup, executor loss) is
        # rescheduled up to maxFailures-1 times before failing the job.
        # Extraction tasks are idempotent (commit is all-or-nothing per
        # run), so retries are always safe. local[] mode defaults this
        # to 1 (fail fast); set the cluster default explicitly so tests
        # exercise the same retry semantics a real cluster has.
        .config("spark.task.maxFailures", "4")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    conf = dict(extra_conf or {})
    archive = _ClassDataArchive.for_launch(conf)
    if archive is not None:
        # Spark puts the default options before ``extraJavaOptions``,
        # so a caller's own JVM options still apply (and win).
        conf["spark.driver.defaultJavaOptions"] = " ".join(
            filter(None, (archive.java_options, conf.get("spark.driver.defaultJavaOptions"))))
    for k, v in conf.items():
        builder = builder.config(k, v)
    if archive is None:
        return builder.getOrCreate()
    return archive.launch(builder)


class _ClassDataArchive:
    """The class-data archive for one launch of the driver JVM: map the
    archive when the cache holds one, else record the classes the JVM
    loads and build the archive from that list at interpreter exit."""

    def __init__(self, cds_dir: str, key: str, conf_dir: str, java_home: str,
                 recording: bool):
        self.cds_dir, self.key = cds_dir, key
        self.conf_dir, self.java_home = conf_dir, java_home
        self.recording = recording
        self.archive = self._file(".jsa")
        self.class_list = self._file(".classlist")
        self.lock = self._file(".lock")
        self.pid = os.getpid()
        if recording:
            self.java_options = f"-XX:DumpLoadedClassList={self.class_list}"
        else:
            # A rejected archive warns on the JVM's stdout, which the CLI
            # shares; the JVM then starts without it.
            self.java_options = (f"-XX:SharedArchiveFile={self.archive} "
                                 "-Xlog:cds=off -Xlog:cds+dynamic=off")

    def _file(self, suffix: str) -> str:
        return os.path.join(self.cds_dir, self.key + suffix)

    @classmethod
    def for_launch(cls, conf: dict[str, str]) -> "_ClassDataArchive | None":
        """None unless this ``build_spark`` call launches the JVM and the
        host can use an archive; every file-system fault also gives None.
        A caller's driver classpath would make the JVM reject the archive,
        and with it the JDK's own."""
        from pyspark import SparkContext

        if ("PYSPARK_GATEWAY_PORT" in os.environ or SparkContext._gateway is not None
                or "spark.driver.extraClassPath" in conf):
            return None
        try:
            return cls._prepare()
        except OSError:
            return None

    @classmethod
    def _prepare(cls) -> "_ClassDataArchive | None":
        from pyspark.find_spark_home import _find_spark_home

        spark_home = _find_spark_home()
        site_conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if os.path.isdir(site_conf) and any(
                not name.endswith(".template") for name in os.listdir(site_conf)):
            return None  # Spark reads this directory: never drop it
        java_home = _java_home()
        if java_home is None:
            return None
        key = _archive_key(java_home, os.path.join(spark_home, "jars"))
        base = os.path.join(os.environ.get("XDG_CACHE_HOME")
                            or os.path.join(os.path.expanduser("~"), ".cache"),
                            "ocr_agent_spark")
        if any(c.isspace() or c in "'\"" + os.pathsep for c in base):
            return None  # the paths go into a JVM option string and a classpath
        cds_dir, conf_dir = os.path.join(base, "cds"), os.path.join(base, "empty-conf")
        os.makedirs(cds_dir, exist_ok=True)
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir):
            return None
        found = cls(cds_dir, key, conf_dir, java_home, recording=False)
        if os.path.isfile(found.archive):
            return found
        if os.path.exists(found._file(".failed")) or not _acquire_lock(found.lock):
            return None
        recorder = cls(cds_dir, key, conf_dir, java_home, recording=True)
        for leftover in (recorder.class_list, recorder._file(".jsa.tmp")):
            with contextlib.suppress(FileNotFoundError):
                os.unlink(leftover)
        return recorder

    def launch(self, builder) -> SparkSession:
        """Start the JVM with an empty conf dir: the archive's classpath
        starts with it, and JDK 17 dumps no classpath holding a
        non-empty directory."""
        saved = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            spark = builder.getOrCreate()
        except BaseException:
            if self.recording:
                self._unlock()
            raise
        finally:
            if saved is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = saved
        if self.recording:
            self._arm(spark)
        return spark

    def _arm(self, spark: SparkSession) -> None:
        from pyspark import SparkContext

        jvm = spark._jvm
        system = jvm.java.lang.System
        if os.path.realpath(system.getProperty("java.home")) != self.java_home:
            self._unlock()  # another JVM than the key names
            return
        args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
        self.jvm_args = ["-cp", system.getProperty("java.class.path"),
                         *(a for a in args if a.startswith("--add-modules"))]
        atexit.register(self._dump_at_exit, SparkContext._gateway)

    def _dump_at_exit(self, gateway) -> None:
        if os.getpid() != self.pid:
            return  # a forked child
        try:
            # End the driver JVM first (it would end at exit anyway): the
            # class list is then complete and the dump has its memory.
            proc = getattr(gateway, "proc", None)
            if proc is not None and proc.poll() is None:
                proc.stdin.close()
                proc.wait(timeout=60)
            if not self._dump():
                open(self._file(".failed"), "w").close()
        except (OSError, subprocess.SubprocessError):
            pass
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(self.class_list)
            self._unlock()

    def _dump(self) -> bool:
        """Build the archive under a temp name, check that a JVM maps it,
        and only then rename it into place: a truncated archive crashes
        the JVM that maps it, and live JVMs map the one in place."""
        java = os.path.join(self.java_home, "bin", "java")
        tmp = self._file(".jsa.tmp")
        prctl = ctypes.CDLL(None).prctl  # resolved before the fork
        try:
            for cmd in ([java, "-Xshare:dump", f"-XX:SharedClassListFile={self.class_list}",
                         f"-XX:SharedArchiveFile={tmp}", *self.jvm_args],
                        [java, f"-XX:SharedArchiveFile={tmp}", "-Xshare:on",
                         *self.jvm_args, "-version"]):
                if subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                                  stderr=subprocess.DEVNULL, timeout=600,
                                  # the dump dies with this process
                                  preexec_fn=lambda: prctl(_PR_SET_PDEATHSIG, signal.SIGKILL),
                                  ).returncode:
                    return False
            os.replace(tmp, self.archive)
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(tmp)
        for name in os.listdir(self.cds_dir):
            if name.endswith(".jsa") and name != os.path.basename(self.archive):
                os.unlink(os.path.join(self.cds_dir, name))
        return True

    def _unlock(self) -> None:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(self.lock)


def _java_home() -> str | None:
    """The JDK ``spark-class`` runs: ``$JAVA_HOME``, else ``java`` on PATH."""
    java = (os.path.join(os.environ["JAVA_HOME"], "bin", "java")
            if os.environ.get("JAVA_HOME") else shutil.which("java"))
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def _archive_key(java_home: str, jars_dir: str) -> str:
    """Hash of the JDK and the Spark jars an archive is built from."""
    h = hashlib.sha256(java_home.encode())
    st = os.stat(os.path.join(java_home, "lib", "modules"))
    h.update(f"\0{st.st_size} {st.st_mtime_ns}".encode())
    for name in sorted(os.listdir(jars_dir)):
        st = os.stat(os.path.join(jars_dir, name))
        h.update(f"\0{name} {st.st_size} {st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _acquire_lock(path: str) -> bool:
    """One recorder per key: an ``O_EXCL`` lock file naming its pid; a
    lock whose pid is dead is stale and taken over."""
    for _ in range(2):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            if _lock_holder_alive(path):
                return False
            with contextlib.suppress(FileNotFoundError):
                os.unlink(path)
            continue
        with os.fdopen(fd, "w") as fh:
            fh.write(str(os.getpid()))
        return True
    return False


def _lock_holder_alive(path: str) -> bool:
    try:
        with open(path) as fh:
            pid = int(fh.read())
    except ValueError:
        # Empty: its holder may be between creating and writing it.
        return time.time() - os.stat(path).st_mtime < 10
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True
