"""Rebuild the package's JVM jar from its committed Java source.

    python tools/build_jvm.py [out.jar]

Compiles ``aws_saas_factory_multi_tenant_data_pipeline_spark/jvm/*.java``
with the ``javac`` on ``PATH`` (``--release 17``) against the installed
pyspark's ``hadoop-client-api`` jar, then zips the classes with fixed
timestamps, so the same source and compiler give the same jar bytes. No
network: everything it reads is already installed. The default output is
the committed jar (``session.FS_SHIM_JAR``).
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from aws_saas_factory_multi_tenant_data_pipeline_spark.session import FS_SHIM_JAR  # noqa: E402

SRC_DIR = os.path.dirname(FS_SHIM_JAR)


def hadoop_api_jar() -> str:
    """The installed pyspark's ``hadoop-client-api-*.jar``."""
    import pyspark

    jars = glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar"))
    if len(jars) != 1:
        raise FileNotFoundError(f"expected one hadoop-client-api jar under pyspark/jars, found {jars}")
    return jars[0]


def build(out_jar: str = FS_SHIM_JAR) -> str:
    """Compile the Java sources and write ``out_jar``; returns its path."""
    sources = sorted(glob.glob(os.path.join(SRC_DIR, "*.java")))
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-cp", hadoop_api_jar(), "-d", classes, *sources],
            check=True,
        )
        names = sorted(
            os.path.relpath(os.path.join(d, f), classes).replace(os.sep, "/")
            for d, _, files in os.walk(classes)
            for f in files
        )
        with zipfile.ZipFile(out_jar, "w", zipfile.ZIP_DEFLATED) as jar:
            for name in names:
                info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
                info.compress_type = zipfile.ZIP_DEFLATED
                with open(os.path.join(classes, name), "rb") as fh:
                    jar.writestr(info, fh.read())
    return out_jar


if __name__ == "__main__":
    print(build(*sys.argv[1:2]))
