"""The program's own files — the state log, the metrics history and the
checkpoint attempts — on the Hadoop ``FileSystem`` that the active
Spark session resolves for their URI.

So a plain path, ``file://``, ``hdfs://`` or ``s3a://`` lands where
Spark's own reads and writes of it would, and a scheme Spark cannot open
raises.  No operation starts a Spark job.  File bytes never cross py4j:
pandas writes and reads parquet in a local temp dir that the FileSystem
copies from and to.  Hadoop's checksummed local filesystem keeps a
``.<name>.crc`` beside the files written through it (Spark's parquet
writes leave them), so listings skip names that start with ``.``.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from typing import List

import pandas as pd
from pyspark.sql import SparkSession


def _fs(uri: str):
    """The FileSystem holding ``uri``, and the JVM's ``Path`` class."""
    spark = SparkSession.active()
    Path = spark._jvm.org.apache.hadoop.fs.Path
    return Path(uri).getFileSystem(spark._jsc.hadoopConfiguration()), Path


def list_names(directory: str, prefix: str) -> List[str]:
    """Sorted names in ``directory`` (none if it is missing) that start
    with ``prefix``."""
    fs, Path = _fs(directory)
    if not fs.exists(Path(directory)):
        return []
    names = (s.getPath().getName() for s in fs.listStatus(Path(directory)))
    return sorted(n for n in names if n.startswith(prefix) and not n.startswith("."))


def delete(uri: str) -> None:
    """Delete the file or the whole directory ``uri``, if it exists."""
    fs, Path = _fs(uri)
    fs.delete(Path(uri), True)


def commit_parquet(directory: str, name: str, pdf: pd.DataFrame) -> None:
    """Write ``pdf`` as ``directory/name`` under a hidden temp name,
    then rename it: the file appears whole or not at all."""
    fs, Path = _fs(directory)
    tmp = Path(f"{directory}/.tmp_{uuid.uuid4().hex}")
    final = Path(f"{directory}/{name}")
    with tempfile.TemporaryDirectory() as local:
        src = os.path.join(local, "part.parquet")
        pdf.to_parquet(src, index=False)
        fs.copyFromLocalFile(False, False, Path(src), tmp)
    if not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise OSError(f"could not rename {tmp.toString()} to {final.toString()}")


def read_parquet(directory: str, prefix: str) -> List[pd.DataFrame]:
    """One frame per ``prefix*.parquet`` file of ``directory``, in name
    order."""
    fs, Path = _fs(directory)
    frames = []
    with tempfile.TemporaryDirectory() as local:
        for i, name in enumerate(list_names(directory, prefix)):
            if name.endswith(".parquet"):
                dst = os.path.join(local, f"{i}.parquet")
                fs.copyToLocalFile(False, Path(f"{directory}/{name}"), Path(dst), True)
                frames.append(pd.read_parquet(dst))
    return frames
