"""Start the driver JVM from a class-data-sharing archive.

Most of a fresh process's session start-up is the driver JVM loading and
verifying Spark's classes. A dynamic AppCDS archive (JEP 350) holds those
classes already parsed and verified, and a JVM started from it maps them
in instead. ``get_or_create`` keeps one archive per (JDK build, Spark jar
set, driver heap) under ``${XDG_CACHE_HOME:-~/.cache}/<package>/cds/``:

- archive present: the JVM starts with ``-XX:SharedArchiveFile``;
- archive missing: the JVM starts with ``-XX:ArchiveClassesAtExit`` onto
  a per-process ``<key>.<pid>.tmp``; at interpreter exit the gateway's
  stdin is closed, the JVM exits and writes the file, and a complete
  file (the JVM exited 0) is renamed onto ``<key>.jsa``.

The key is built from file metadata only (no ``java -version`` run). The
JDK refuses to dump with a non-empty directory on the class path, and
the launcher puts the Spark conf directory there, so the JVM is launched
with ``SPARK_CONF_DIR`` pointing at an empty directory in the cache; the
archive is skipped when the configured conf directory holds anything a
launch would read, so a deployment's configuration is never dropped.

Under ``-Xshare:auto`` (the default) a JVM whose flags or class path do
not match the archive loads its classes normally. A truncated archive is
not caught by the JVM (JDK 17 maps it and dies of SIGBUS), so the archive's
byte count is recorded beside it at the rename and checked before every
use; a JVM that still fails to start from an archive is started again
without it.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError

# the dump's "[warning][cds] Skipping ...: Signed JAR" lines go to the
# JVM's stdout, which the driver process shares
QUIET = "-Xlog:cds=off,cds+dynamic=off"
DUMP_WAIT_S = 120  # a dump of Spark's classes takes 10-20 s at exit
# the launcher adds each of these to the driver's class path
_CLASS_PATH_VARS = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")

_STATE: dict | None = None


class _Skip(Exception):
    """The archive cannot be used for this launch; the message says why."""


def archive_state() -> dict | None:
    """Whether this process's driver JVM started from the archive:
    ``{"state": "used" | "dumping" | "skipped", "reason", "path", "bytes"}``,
    or ``None`` before any session was started."""
    return _STATE


def _cache_dir() -> str:
    root = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(root, __package__, "cds")


def _spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def archive_key(driver_memory: str) -> str:
    """A digest of what the archive depends on: the ``java`` the launcher
    runs and its ``libjvm.so`` (path, size, mtime), every Spark jar (name,
    size, mtime), and the driver heap (past 32 GB compressed oops go off
    and the archive no longer maps)."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None or not os.path.isfile(java):
        raise _Skip("no java executable found")
    java = os.path.realpath(java)
    libjvm = sorted(glob.glob(os.path.join(os.path.dirname(os.path.dirname(java)),
                                           "lib", "*", "libjvm.so")))
    if not libjvm:
        raise _Skip(f"no libjvm.so beside {java}")
    jars = os.path.join(_spark_home(), "jars")
    try:
        names = sorted(os.listdir(jars))
    except OSError as e:
        raise _Skip(f"cannot list {jars} ({e.strerror})") from e
    digest = hashlib.sha256(f"{java}\ndriver.memory={driver_memory}\n".encode())
    for path in libjvm + [os.path.join(jars, n) for n in names]:
        st = os.stat(path)
        digest.update(f"{path} {st.st_size} {st.st_mtime_ns}\n".encode())
    return digest.hexdigest()[:20]


def _check_launch_environment() -> None:
    """Raise ``_Skip`` when the launch would carry settings the archive
    would drop or break."""
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(_spark_home(), "conf")
    try:
        held = sorted(n for n in os.listdir(conf) if not n.endswith(".template"))
    except FileNotFoundError:
        held = []
    if held:
        raise _Skip(f"the conf directory {conf} holds {', '.join(held)}")
    for var in _CLASS_PATH_VARS:
        if os.environ.get(var):
            raise _Skip(f"{var} adds to the driver class path")
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if "extraJavaOptions" in submit or "--driver-java-options" in submit:
        raise _Skip("spark.driver.extraJavaOptions is already set")


def _sweep(root: str, key: str) -> None:
    """Remove other keys' archives and the dumps of processes that died."""
    for name in os.listdir(root):
        path = os.path.join(root, name)
        if name.endswith(".tmp"):  # <key>.<pid>.tmp, <key>.<pid>.size.tmp
            pid = name.split(".")[1]
            if pid.isdigit() and not _alive(int(pid)):
                _unlink(path)
        elif name.endswith((".jsa", ".size")) and not name.startswith(f"{key}."):
            _unlink(path)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _unlink(path: str) -> None:
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


def _recorded_size(jsa: str) -> int | None:
    try:
        with open(jsa[: -len(".jsa")] + ".size") as f:
            return int(f.read())
    except (OSError, ValueError):
        return None


def _plan(driver_memory: str) -> tuple[str, str, dict]:
    """The driver Java options, the empty conf directory and the state
    of a launch with the archive; raises ``_Skip``."""
    _check_launch_environment()
    root = os.path.realpath(_cache_dir())
    conf = os.path.join(root, "conf")
    try:
        os.makedirs(conf, exist_ok=True)
        fd, probe = tempfile.mkstemp(dir=root, prefix=".probe-")
        os.close(fd)
        os.unlink(probe)
    except OSError as e:
        raise _Skip(f"the cache directory {root} cannot be written ({e.strerror})") from e
    key = archive_key(driver_memory)
    _sweep(root, key)
    jsa = os.path.join(root, f"{key}.jsa")
    try:
        size = os.stat(jsa).st_size
    except FileNotFoundError:
        size = None
    recorded = _recorded_size(jsa)
    if size is not None and size == recorded:
        return (f"{shlex.quote(f'-XX:SharedArchiveFile={jsa}')} {QUIET}", conf,
                {"state": "used", "reason": "mapped by the driver JVM", "path": jsa,
                 "bytes": size})
    reason = ("no archive for this JDK, jar set and driver heap yet" if size is None
              else f"the archive is incomplete ({size} of {recorded} bytes)")
    tmp = os.path.join(root, f"{key}.{os.getpid()}.tmp")
    return (f"{shlex.quote(f'-XX:ArchiveClassesAtExit={tmp}')} {QUIET}", conf,
            {"state": "dumping", "reason": reason, "path": jsa, "bytes": None, "tmp": tmp})


def _log(reason: str) -> None:
    print(f"{__package__}: class-data archive skipped: {reason}", file=sys.stderr)


def _mapped(pid: int, path: str) -> bool:
    try:
        with open(f"/proc/{pid}/maps") as f:
            return any(line.rstrip().endswith(path) for line in f)
    except OSError:
        return True  # no /proc to look in: trust -Xshare:auto


def get_or_create(start: Callable[[str | None], object], driver_memory: str):
    """``start(java_options)`` builds the session, passing ``java_options``
    (when not ``None``) as ``spark.driver.extraJavaOptions``. When this
    call launches the driver JVM, it launches it from the archive (or
    dumps one), and records ``archive_state()``."""
    global _STATE
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        if _STATE is None:
            _STATE = {"state": "skipped", "reason": "the driver JVM was already running",
                      "path": None, "bytes": None}
        return start(None)
    try:
        options, conf, state = _plan(driver_memory)
    except (_Skip, OSError) as e:
        _log(str(e))
        _STATE = {"state": "skipped", "reason": str(e), "path": None, "bytes": None}
        return start(None)
    tmp = state.pop("tmp", None)
    prev = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf
    try:
        spark = start(options)
    except PySparkRuntimeError:
        if SparkContext._gateway is not None:
            raise
        # the JVM died before it served the gateway: start it as usual and,
        # when that works, the archive was at fault
        _restore_conf_dir(prev)
        spark = start(None)
        if state["state"] == "used":
            _unlink(state["path"])
        reason = "the driver JVM did not start with the archive; started without it"
        _log(reason)
        _STATE = {**state, "state": "skipped", "reason": reason}
        return spark
    finally:
        _restore_conf_dir(prev)
    proc = spark.sparkContext._gateway.proc
    if state["state"] == "used" and not _mapped(proc.pid, state["path"]):
        state = {**state, "state": "skipped",
                 "reason": "the driver JVM did not map the archive; classes loaded normally"}
        _log(state["reason"])
    elif tmp is not None:
        atexit.register(_finish_dump, proc, tmp, state["path"])
    _STATE = state
    return spark


def _restore_conf_dir(prev: str | None) -> None:
    if prev is None:
        os.environ.pop("SPARK_CONF_DIR", None)
    else:
        os.environ["SPARK_CONF_DIR"] = prev


def _finish_dump(proc: subprocess.Popen, tmp: str, jsa: str) -> None:
    """Stop the context, let the dumping JVM exit (it exits when its
    stdin closes), wait for it, bounded, and rename a complete dump onto
    ``jsa``; the byte count is recorded first, so a reader never sees an
    unrecorded archive."""
    sc = SparkContext._active_spark_context
    try:
        if sc is not None:  # else its servers see the JVM go and print tracebacks
            sc.stop()
    finally:
        _await_dump(proc, tmp, jsa)


def _await_dump(proc: subprocess.Popen, tmp: str, jsa: str) -> None:
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        rc = proc.wait(timeout=DUMP_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = None
    try:
        size = os.stat(tmp).st_size if rc == 0 else 0
    except FileNotFoundError:
        size = 0
    if size:
        record = f"{tmp[: -len('.tmp')]}.size.tmp"
        with open(record, "w") as f:
            f.write(str(size))
        os.replace(record, jsa[: -len(".jsa")] + ".size")
        os.replace(tmp, jsa)
    else:
        _unlink(tmp)
