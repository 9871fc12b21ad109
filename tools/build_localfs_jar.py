"""Recompile the bundled local FileSystem's Java source into its committed jar.

The jar (``lakehouse_ingestion_spark/jvm/lakehouse-localfs.jar``) goes on the
driver classpath of every ``get_spark`` session; see ``session.py``. It is
built with ``javac --release 17`` against the ``hadoop-client-api`` jar that
ships inside PySpark, and written with fixed timestamps so that the same
source and compiler give the same bytes.

Usage: python tools/build_localfs_jar.py
"""

from __future__ import annotations

import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

JVM_DIR = Path(__file__).resolve().parent.parent / "lakehouse_ingestion_spark" / "jvm"
SRC = JVM_DIR / "src"
JAR = JVM_DIR / "lakehouse-localfs.jar"
MANIFEST = b"Manifest-Version: 1.0\r\nCreated-By: tools/build_localfs_jar.py\r\n\r\n"


def hadoop_api_jar() -> Path:
    import pyspark

    (jar,) = (Path(pyspark.__file__).parent / "jars").glob("hadoop-client-api-*.jar")
    return jar


def compile_classes(out: Path) -> dict[str, bytes]:
    """Compile the source into ``out``; return ``{jar entry name: class bytes}``."""
    sources = sorted(str(p) for p in SRC.rglob("*.java"))
    subprocess.run(
        ["javac", "--release", "17", "-cp", str(hadoop_api_jar()), "-d", str(out), *sources],
        check=True,
    )
    return {p.relative_to(out).as_posix(): p.read_bytes() for p in sorted(out.rglob("*.class"))}


def write_jar(classes: dict[str, bytes], jar: Path) -> None:
    def entry(name: str) -> zipfile.ZipInfo:
        return zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))

    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr(entry("META-INF/MANIFEST.MF"), MANIFEST)
        for name, data in classes.items():
            z.writestr(entry(name), data)


def main() -> int:
    with tempfile.TemporaryDirectory() as tmp:
        classes = compile_classes(Path(tmp))
    write_jar(classes, JAR)
    print(f"wrote {JAR} ({len(classes)} classes)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
