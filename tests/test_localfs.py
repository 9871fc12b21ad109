"""The bundled ``file:`` FileSystem (``lakehouse_ingestion_spark/jvm``).

Engine sessions on a local master serve ``file:`` paths with
``lakehouse.fs.NioLocalFileSystem`` (FileSystem API) and
``lakehouse.fs.NioLocalFs`` (FileContext API, streaming checkpoints). They
set permissions and read links through NIO, where Hadoop's stock local FS
forks ``chmod`` and ``readlink`` without libhadoop. These tests check that
nothing else changes (modes, checksums, link status), that no Spark action
on a local path forks either tool, that a JVM launched without the jar still
gets a working session, and that the committed jar is its committed source.
"""

from __future__ import annotations

import functools
import os
import shutil
import stat
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError

from lakehouse_ingestion_spark.session import LOCALFS_JAR, master_cores

REPO = Path(__file__).resolve().parent.parent
STOCK_FS = "org.apache.hadoop.fs.LocalFileSystem"
NIO_FS = "lakehouse.fs.NioLocalFileSystem"
STOCK_AFS = "org.apache.hadoop.fs.local.LocalFs"
NIO_AFS = "lakehouse.fs.NioLocalFs"


def _conf(spark, **kv):
    conf = spark._jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
    for k, v in kv.items():
        conf.set(k, v)
    return conf


def _filesystem(spark, cls: str, conf=None):
    fs = functools.reduce(getattr, cls.split("."), spark._jvm)()
    fs.initialize(spark._jvm.java.net.URI("file:///"), conf or _conf(spark))
    return fs


def _filecontext(spark, cls: str):
    jvm = spark._jvm
    conf = _conf(spark, **{"fs.AbstractFileSystem.file.impl": cls})
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(jvm.java.net.URI("file:///"), conf)
    assert fc.getDefaultFileSystem().getClass().getName() == cls
    return fc


def _hpath(spark, p) -> object:
    return spark._jvm.org.apache.hadoop.fs.Path(str(p))


def _modes(root: Path) -> dict[str, int]:
    return {p.relative_to(root).as_posix(): stat.S_IMODE(p.stat().st_mode) for p in [root, *root.rglob("*")]}


# -- shuffle-partition default ------------------------------------------------------


def test_master_cores_reads_the_resolved_master():
    cpus = len(os.sched_getaffinity(0))
    assert master_cores("local") == 1
    assert master_cores("local[4]") == 4
    assert master_cores("local[3, 2]") == 3
    assert master_cores("local[*]") == cpus
    assert master_cores("local[*,4]") == cpus
    assert master_cores("spark://host:7077") == cpus


# -- parity with the stock local FS ---------------------------------------------------


def test_engine_session_serves_file_scheme_with_bundled_fs(spark):
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), hconf)
    assert fs.getClass().getName() == NIO_FS
    assert fs.getRaw().getClass().getName() == "lakehouse.fs.NioRawLocalFileSystem"
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(hconf)
    assert fc.getDefaultFileSystem().getClass().getName() == NIO_AFS


@pytest.mark.parametrize("umask, file_mode, dir_mode", [("022", 0o644, 0o755), ("077", 0o600, 0o700)])
def test_modes_match_stock(spark, tmp_path, umask, file_mode, dir_mode):
    modes = {}
    for cls in (STOCK_FS, NIO_FS):
        fs = _filesystem(spark, cls, _conf(spark, **{"fs.permissions.umask-mode": umask}))
        root = tmp_path / cls
        out = fs.create(_hpath(spark, root / "a" / "b" / "part-0"))  # creates root, a, a/b
        out.write(b"payload")
        out.close()
        fs.mkdirs(_hpath(spark, root / "c" / "d"))
        modes[cls] = _modes(root)
    assert modes[NIO_FS] == modes[STOCK_FS]
    assert modes[NIO_FS] == {
        ".": dir_mode,
        "a": dir_mode,
        "a/b": dir_mode,
        "a/b/.part-0.crc": file_mode,
        "a/b/part-0": file_mode,
        "c": dir_mode,
        "c/d": dir_mode,
    }


def test_crc_written_and_verified(spark, tmp_path):
    data = bytes(range(256)) * 8
    crcs = {}
    for cls in (STOCK_FS, NIO_FS):
        fs = _filesystem(spark, cls)
        f = tmp_path / cls / "part-0"
        out = fs.create(_hpath(spark, f))
        out.write(data)
        out.close()
        assert fs.open(_hpath(spark, f)).readAllBytes() == data
        crcs[cls] = (f.parent / ".part-0.crc").read_bytes()
    assert crcs[NIO_FS] == crcs[STOCK_FS]

    # A corrupt byte fails the read through FileContext's checksummed FS. The
    # FileSystem reader would also move the file into a bad_files directory
    # at the top of the device; FileContext.open(path) without a buffer size
    # reads the raw file.
    for fs_cls, afs_cls in ((STOCK_FS, STOCK_AFS), (NIO_FS, NIO_AFS)):
        f = tmp_path / fs_cls / "part-0"
        f.write_bytes(b"\xff" + data[1:])
        with pytest.raises(Py4JJavaError, match="ChecksumException"):
            _filecontext(spark, afs_cls).open(_hpath(spark, f), 4096).readAllBytes()


def test_rename_onto_existing_file_matches_default_file_fs(spark, tmp_path):
    """Without ``fs.file.impl``, Spark's ServiceLoader entries pick Hive's
    ProxyLocalFileSystem, whose rename onto an existing file returns false."""
    jvm = spark._jvm
    conf = _conf(spark)
    conf.unset("fs.file.impl")
    default_cls = jvm.org.apache.hadoop.fs.FileSystem.getFileSystemClass("file", conf)
    default = jvm.org.apache.hadoop.util.ReflectionUtils.newInstance(default_cls, conf)
    default.initialize(jvm.java.net.URI("file:///"), conf)
    results = {}
    for fs in (default, _filesystem(spark, NIO_FS)):
        root = tmp_path / fs.getClass().getName()
        root.mkdir()
        for name in ("a", "b"):
            (root / name).write_text(name)
        h = functools.partial(_hpath, spark)
        results[fs.getClass().getName()] = (
            fs.rename(h(root / "a"), h(root / "b")),
            fs.rename(h(root / "a"), h(root / "c")),
            sorted((p.name, p.read_text()) for p in root.iterdir()),
        )
    assert results[NIO_FS] == results[default_cls.getName()]
    assert results[NIO_FS] == (False, True, [("b", "b"), ("c", "a")])


def _link_status(spark, fc, p):
    try:
        s = fc.getFileLinkStatus(_hpath(spark, p))
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()
    return (
        s.isSymlink(),
        s.getSymlink().toString() if s.isSymlink() else None,
        s.getPath().toString(),
        s.isDirectory(),
        s.getLen(),
    )


def test_file_link_status_matches_stock(spark, tmp_path):
    (tmp_path / "dir").mkdir()
    (tmp_path / "plain").write_bytes(b"12345")
    (tmp_path / "link").symlink_to(tmp_path / "plain")
    (tmp_path / "dirlink").symlink_to("dir")
    (tmp_path / "dangling").symlink_to(tmp_path / "gone")
    paths = [
        tmp_path / "plain",
        tmp_path / "dir",
        tmp_path / "link",
        tmp_path / "dirlink",
        tmp_path / "dangling",
        tmp_path / "missing",
        f"file:{tmp_path / 'link'}",  # a scheme-qualified path is never a symlink
    ]
    stock, nio = _filecontext(spark, STOCK_AFS), _filecontext(spark, NIO_AFS)
    got = {str(p): _link_status(spark, nio, p) for p in paths}
    assert got == {str(p): _link_status(spark, stock, p) for p in paths}
    assert got[str(tmp_path / "link")][:2] == (True, f"file:{tmp_path / 'plain'}")
    assert got[str(tmp_path / "dirlink")][:2] == (True, f"file:{tmp_path / 'dir'}")
    assert got[str(tmp_path / "dangling")][:2] == (True, f"file:{tmp_path / 'gone'}")
    assert got[str(tmp_path / "plain")][0] is False
    assert got[str(tmp_path / "missing")] == "java.io.FileNotFoundException"
    assert got[f"file:{tmp_path / 'link'}"][0] is False


# -- fresh JVMs ----------------------------------------------------------------------

_FORKS_SCRIPT = """
import os
import sys
from pathlib import Path

from pyspark.sql import SparkSession

from lakehouse_ingestion_spark.session import LOCALFS_JAR, SparkConfig, get_spark

work, mode = Path(sys.argv[1]), sys.argv[2]
if mode == "engine":
    cp = {"spark.driver.extraClassPath": str(work)}  # the jar is appended to it
    spark = get_spark(SparkConfig(app_name="forks", master="local[2]", shuffle_partitions=2, extra=cp))
    assert spark.conf.get("spark.driver.extraClassPath") == f"{work}{os.pathsep}{LOCALFS_JAR}"
else:
    spark = SparkSession.builder.master("local[2]").getOrCreate()
df = spark.range(40).selectExpr("id", "cast(id % 4 as string) as d")
df.write.partitionBy("d").parquet(str(work / "table"))
df.write.json(str(work / "in"))
q = (
    spark.readStream.schema("id long, d string").json(str(work / "in"))
    .writeStream.format("parquet")
    .option("path", str(work / "stream"))
    .option("checkpointLocation", str(work / "ckpt"))
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination()
assert spark.read.parquet(str(work / "table")).count() == 40
assert spark.read.parquet(str(work / "stream")).count() == 40
spark.stop()
"""

_VANILLA_FIRST_SCRIPT = """
import sys
from pathlib import Path

from pyspark.sql import SparkSession

from lakehouse_ingestion_spark.session import SparkConfig, get_spark


def file_fs_classes(spark):
    jvm, hconf = spark._jvm, spark._jsc.hadoopConfiguration()
    # a new instance, not the cached one, so a class that cannot load raises
    fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(jvm.java.net.URI("file:///"), hconf)
    afs = jvm.org.apache.hadoop.fs.FileContext.getFileContext(hconf).getDefaultFileSystem()
    return fs.getClass().getName(), afs.getClass().getName()


work = Path(sys.argv[1])
spark = SparkSession.builder.master("local[2]").getOrCreate()
spark.range(3).write.parquet(str(work / "before"))
print("BEFORE", *file_fs_classes(spark))
spark.stop()

spark = get_spark(SparkConfig(app_name="after-vanilla", master="local[2]", shuffle_partitions=2))
print("AFTER", *file_fs_classes(spark))
rows = [(i, f"p{i % 3}") for i in range(12)]
spark.createDataFrame(rows, "id int, d string").write.partitionBy("d").parquet(str(work / "after"))
back = spark.read.parquet(str(work / "after"))
assert sorted((r.id, r.d) for r in back.collect()) == rows
assert spark.read.parquet(str(work / "before")).count() == 3
spark.stop()
"""


def _run(script: str, work: Path, *args: str, env_extra: dict | None = None) -> str:
    """Run ``script`` with ``argv[1:] == [work, *args]`` in a new Python and JVM."""
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g", **(env_extra or {})}
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [str(REPO), env.get("PYTHONPATH")]))
    out = subprocess.run(
        [sys.executable, "-c", script, str(work), *args],
        env=env, cwd=work, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return out.stdout


def _shims(bin_dir: Path, log: Path) -> dict:
    """``chmod``/``readlink`` first on PATH: log the call, then run the real tool."""
    bin_dir.mkdir()
    for tool in ("chmod", "readlink"):
        shim = bin_dir / tool
        shim.write_text(f'#!/bin/sh\necho "{tool} $*" >> "{log}"\nexec {shutil.which(tool)} "$@"\n')
        shim.chmod(0o755)
    return {"PATH": f"{bin_dir}{os.pathsep}{os.environ['PATH']}"}


def test_engine_session_forks_no_chmod_or_readlink(tmp_path):
    """A partitioned parquet write and an availableNow stream with a
    checkpoint fork neither tool in an engine session, whose jar joins the
    caller's driver classpath; the same script on a vanilla session forks
    both."""
    logs = {}
    for mode in ("engine", "vanilla"):
        work = tmp_path / mode
        work.mkdir()
        log = tmp_path / f"{mode}.log"
        log.touch()
        _run(_FORKS_SCRIPT, work, mode, env_extra=_shims(tmp_path / f"{mode}-bin", log))
        logs[mode] = log.read_text().splitlines()
    assert logs["engine"] == []
    tools = {line.split()[0] for line in logs["vanilla"]}
    assert tools == {"chmod", "readlink"}, logs["vanilla"][:5]


def test_jvm_launched_without_jar_still_gets_working_session(tmp_path):
    lines = _run(_VANILLA_FIRST_SCRIPT, tmp_path).splitlines()
    before = next(line for line in lines if line.startswith("BEFORE ")).split()[1:]
    after = next(line for line in lines if line.startswith("AFTER ")).split()[1:]
    assert after == before
    assert NIO_FS not in after and NIO_AFS not in after


# -- the committed jar is the committed source ------------------------------------------


def test_jar_matches_source(tmp_path):
    javac = shutil.which("javac")
    version = subprocess.run([javac, "-version"], capture_output=True, text=True).stdout if javac else ""
    if not version.startswith("javac 17."):
        pytest.skip(f"the jar is built with javac 17, not {version.strip() or 'no javac'}")
    sys.path.insert(0, str(REPO / "tools"))
    import build_localfs_jar

    classes = build_localfs_jar.compile_classes(tmp_path)
    with zipfile.ZipFile(LOCALFS_JAR) as z:
        jarred = {n: z.read(n) for n in z.namelist() if n.endswith(".class")}
    assert classes == jarred
