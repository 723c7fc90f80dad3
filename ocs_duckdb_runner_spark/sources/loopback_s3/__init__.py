"""Build + config helpers for the in-repo Java classes.

The sandbox ships pyspark's Hadoop client but not hadoop-aws/aws-sdk, so
`s3a://` URIs have no FileSystem implementation out of the box. This
package compiles LoopbackS3AFileSystem.java (a minimal read-only s3a FS
speaking HTTP ranged reads — see its header comment) against pyspark's
bundled jars and packages it as a jar for `spark.driver.extraClassPath`.
With real hadoop-aws jars present, the FS is not needed — the same
S3Config maps straight onto S3AFileSystem.

The same jar carries FanoutIOListener.java, the fan-out runner's per-run
I/O accounting, which the runner loads into any session (see
``runner._io_listener``).
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import tempfile
import zipfile
from pathlib import Path

_SRC_DIR = Path(__file__).parent
_BUILD = Path("/tmp/ocs_loopback_s3a")


def hadoop_aws_available() -> bool:
    """True when the real s3a connector's jars are on pyspark's classpath."""
    import pyspark

    jars = Path(pyspark.__file__).parent / "jars"
    return any(jars.glob("hadoop-aws-*.jar"))


def ensure_jar() -> str:
    """Compile every ``*.java`` source here into one jar and return its
    path. The jar is cached under ``_BUILD`` and carries, as its zip
    comment, a digest of every source's name and bytes, so javac runs once
    per source version and a jar that another version of the code wrote
    there is rebuilt. A rebuild compiles into a fresh directory and
    replaces the jar atomically, so a concurrent reader sees the old jar
    or the new one. Raises with javac's output when compilation fails,
    and when javac is unavailable."""
    import pyspark

    jar = _BUILD / "loopback-s3a.jar"
    srcs = sorted(_SRC_DIR.glob("*.java"))
    digest = hashlib.sha256()
    for src in srcs:
        digest.update(src.name.encode() + b"\0" + src.read_bytes() + b"\0")
    version = digest.hexdigest().encode()
    try:
        with zipfile.ZipFile(jar) as zf:
            if zf.comment == version:
                return str(jar)
    except (FileNotFoundError, zipfile.BadZipFile):
        pass  # not built yet, or not a jar: build it
    _BUILD.mkdir(parents=True, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=_BUILD) as tmp:
        classes = Path(tmp) / "classes"
        done = subprocess.run(
            [
                "javac",
                "-encoding",
                "UTF-8",
                "-cp",
                str(Path(pyspark.__file__).parent / "jars" / "*"),
                "-d",
                str(classes),
                *map(str, srcs),
            ],
            capture_output=True,
            text=True,
        )
        if done.returncode != 0:
            raise RuntimeError(
                f"javac failed ({done.returncode}):\n{done.stderr}{done.stdout}"
            )
        built = Path(tmp) / "loopback-s3a.jar"
        with zipfile.ZipFile(built, "w") as zf:  # a jar is a zip
            for cls in sorted(classes.rglob("*.class")):
                zf.write(cls, cls.relative_to(classes))
            zf.comment = version
        os.replace(built, jar)
    return str(jar)


def loopback_conf(jar: str) -> dict[str, str]:
    """extra_conf entries wiring s3a:// to the loopback FS. local[*] runs
    executors in the driver JVM, so driver extraClassPath covers both."""
    return {
        "spark.driver.extraClassPath": jar,
        "spark.hadoop.fs.s3a.impl": "org.ocsspark.LoopbackS3AFileSystem",
    }
