"""Driver start-up: the class-data-sharing archive (``cds``) and the
paths a process deletes at exit.

Every case that starts a driver JVM runs in a subprocess of its own, so
it gets a fresh JVM, with ``XDG_CACHE_HOME`` and ``TMPDIR`` under the
test's temporary directory.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from rat_strain_loader_pipeline_spark import cds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# builds a session, stages a frame, ships the package, and prints one
# JSON line; the interpreter's exit then runs the atexit hooks
_SCRIPT = r"""
import json, os, sys, tempfile
sys.path.insert(0, sys.argv[1])
from rat_strain_loader_pipeline_spark.session import archive_state, get_spark
from rat_strain_loader_pipeline_spark.ship import ensure_shipped
from rat_strain_loader_pipeline_spark.staging import _stage_root, stage_to_parquet

spark = get_spark("session-test", master="local[2]")
spark.sparkContext.setLogLevel("ERROR")
rows = stage_to_parquet(spark.range(3)).count()
ensure_shipped(spark)
print(json.dumps({
    "state": archive_state(), "rows": rows, "pid": spark.sparkContext._gateway.proc.pid,
    "stage_root": _stage_root(),
    "zip": os.path.join(tempfile.gettempdir(), f"rat_strain_loader_pipeline_spark-{os.getpid()}.zip"),
    "marker": spark.conf.get("spark.rat.marker", None),
}))
"""


def _start(cache, work, **env) -> tuple[dict, subprocess.CompletedProcess]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, ROOT], cwd=work, capture_output=True, text=True,
        timeout=600, env={**os.environ, "XDG_CACHE_HOME": str(cache), "TMPDIR": tmp, **env},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc


def _cds_dir(cache) -> str:
    return os.path.join(cache, "rat_strain_loader_pipeline_spark", "cds")


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """A first start on an empty cache: it dumps the archive at exit.
    The cache path holds a space, which the JVM options must quote."""
    cache = tmp_path_factory.mktemp("cache dir")
    out, proc = _start(cache, str(tmp_path_factory.mktemp("dump")))
    return cache, out, proc


def test_archive_key_follows_jar_size_and_mtime(tmp_path, monkeypatch):
    jars = tmp_path / "spark" / "jars"
    jars.mkdir(parents=True)
    jar = jars / "a.jar"
    jar.write_bytes(b"x" * 10)
    monkeypatch.setenv("SPARK_HOME", str(tmp_path / "spark"))
    k0 = cds.archive_key("8g")
    assert cds.archive_key("8g") == k0
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    k1 = cds.archive_key("8g")
    with open(jar, "ab") as f:  # one byte more, mtime kept
        f.write(b"y")
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    k2 = cds.archive_key("8g")
    assert len({k0, k1, k2, cds.archive_key("40g")}) == 4


def test_sweep_keeps_the_current_archive_and_live_dumps(tmp_path):
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    names = ["k1.jsa", "k1.size", "k0.jsa", "k0.size", f"k1.{dead.pid}.tmp",
             f"k1.{dead.pid}.size.tmp", f"k1.{os.getpid()}.tmp"]
    for n in names:
        (tmp_path / n).write_text("x")
    (tmp_path / "conf").mkdir()
    cds._sweep(str(tmp_path), "k1")
    assert sorted(os.listdir(tmp_path)) == sorted(["conf", f"k1.{os.getpid()}.tmp", "k1.jsa", "k1.size"])


def test_dump_run_prints_no_cds_line(dumped):
    _cache, out, proc = dumped
    assert out["state"]["state"] == "dumping" and out["rows"] == 3
    assert not [line for line in proc.stdout.splitlines() if "[cds]" in line]


def test_dump_run_leaves_one_archive_and_no_process(dumped):
    cache, out, _proc = dumped
    key = os.path.basename(out["state"]["path"])[: -len(".jsa")]
    assert sorted(os.listdir(_cds_dir(cache))) == sorted(["conf", f"{key}.jsa", f"{key}.size"])
    assert not _alive(out["pid"])
    size = os.path.getsize(out["state"]["path"])
    with open(os.path.join(_cds_dir(cache), f"{key}.size")) as f:
        assert int(f.read()) == size > 0


def test_next_start_uses_the_archive_and_removes_its_paths_at_exit(dumped, tmp_path):
    """The second start maps the archive; at exit the process removes its
    stage root and its shipped zip."""
    cache, first, _proc = dumped
    out, _ = _start(cache, str(tmp_path))
    assert out["state"] == {"state": "used", "reason": "mapped by the driver JVM",
                            "path": first["state"]["path"],
                            "bytes": os.path.getsize(first["state"]["path"])}
    assert out["rows"] == 3
    assert not os.path.exists(out["stage_root"]) and not os.path.exists(out["zip"])
    assert os.listdir(tmp_path / "tmp") == []


def _damaged_cache(dumped, tmp_path, recorded: str) -> tuple[str, str]:
    """A cache whose archive is the first half of a good one, recorded as
    ``recorded`` bytes ("full": the good one's size, "half": its own)."""
    cache, first, _proc = dumped
    good = first["state"]["path"]
    damaged = tmp_path / "cache"
    os.makedirs(_cds_dir(damaged))
    jsa = os.path.join(_cds_dir(damaged), os.path.basename(good))
    half = os.path.getsize(good) // 2
    with open(good, "rb") as src, open(jsa, "wb") as dst:
        dst.write(src.read(half))
    with open(jsa[: -len(".jsa")] + ".size", "w") as f:
        f.write(str(os.path.getsize(good) if recorded == "full" else half))
    return str(damaged), jsa


def test_truncated_archive_falls_back_and_is_dumped_again(dumped, tmp_path):
    cache, jsa = _damaged_cache(dumped, tmp_path, "full")
    out, _ = _start(cache, str(tmp_path))
    assert out["rows"] == 3
    assert out["state"]["state"] == "dumping"
    assert out["state"]["reason"].startswith("the archive is incomplete")
    assert cds._recorded_size(jsa) == os.path.getsize(jsa)


def test_archive_the_jvm_cannot_start_from_is_dropped(dumped, tmp_path):
    """A damaged archive whose recorded size matches: JDK 17 maps it and
    dies; the session starts again without it, and it is removed."""
    cache, jsa = _damaged_cache(dumped, tmp_path, "half")
    out, proc = _start(cache, str(tmp_path))
    assert out["rows"] == 3
    assert out["state"]["state"] == "skipped"
    assert out["state"]["reason"].startswith("the driver JVM did not start")
    assert not os.path.exists(jsa)
    assert sum("class-data archive skipped" in line for line in proc.stderr.splitlines()) == 1


def test_archive_of_another_format_falls_back(dumped, tmp_path):
    """Same size, wrong contents: under -Xshare:auto the JVM does not map
    it and loads its classes normally."""
    cache, jsa = _damaged_cache(dumped, tmp_path, "half")
    with open(jsa, "r+b") as f:
        f.write(b"\0" * 4096)
    out, _ = _start(cache, str(tmp_path))
    assert out["rows"] == 3
    assert out["state"]["state"] == "skipped"
    assert out["state"]["reason"].startswith("the driver JVM did not map")


def test_conf_directory_with_settings_skips_the_archive(tmp_path):
    """A deployment's spark-defaults.conf stays in effect (templates
    alone would not skip), and the skip is logged once."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-env.sh.template").write_text("# a template\n")
    (conf / "spark-defaults.conf").write_text("spark.rat.marker 42\n")
    cache = tmp_path / "cache"
    out, proc = _start(cache, str(tmp_path), SPARK_CONF_DIR=str(conf))
    assert out["state"]["state"] == "skipped"
    assert out["state"]["reason"] == f"the conf directory {conf} holds spark-defaults.conf"
    assert out["marker"] == "42" and out["rows"] == 3
    assert sum("class-data archive skipped" in line for line in proc.stderr.splitlines()) == 1
    assert not os.path.exists(_cds_dir(cache))
