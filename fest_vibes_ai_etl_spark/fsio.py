"""The driver's one route to the Hadoop filesystem.

Every driver-side filesystem call of the package goes through this
module, the way a lakehouse commit protocol keeps one storage interface
(Delta's ``LogStore``): the rest of the package passes path strings and
never holds a Hadoop ``FileSystem`` or ``Path``. Each op

- resolves the Hadoop filesystem of its path (the same one Spark's
  readers and writers use, so hdfs/s3a/... behave like the data);
- maps a failed call to a typed error: a Java ``FileNotFoundException``
  raises :class:`FileNotFoundError`, any other ``IOException`` (an
  unregistered scheme included) raises :class:`OSError`, never a raw
  ``Py4JJavaError``;
- counts itself per thread, by op name (:func:`calls`), so tests can pin
  the filesystem cost of a batch or a maintenance pass.

A delete reports a missing path the Hadoop way, as ``False``, so no
delete or write stats its path first. A listing or a JSON read does
stat first, answering ``[]`` / ``None`` for a missing path: absence is
the common case there (a store never written, a journal that is
normally gone), and a Java exception costs several stats through py4j
(~21 ms against ~3.5 ms for a stat, measured on a local filesystem).
Executor-side writers (the pyarrow direct appends in
``streaming/banded_index.py``) do not come through here; they run in
Python workers, not on the driver.
"""

from __future__ import annotations

import functools
import json
import threading
import uuid
from collections import Counter
from typing import NamedTuple

from py4j.protocol import Py4JJavaError

_LOCAL = threading.local()


def calls() -> Counter:
    """A copy of this thread's op counts so far. Subtract two copies to
    count a block: ``after - before``."""
    return Counter(_counts())


def _counts() -> Counter:
    c = getattr(_LOCAL, "counts", None)
    if c is None:
        c = _LOCAL.counts = Counter()
    return c


def _typed(spark, exc: Py4JJavaError) -> Exception:
    """The Python error for a failed filesystem call: the first
    ``FileNotFoundException`` / ``IOException`` on the Java cause chain
    decides; anything else stays the Py4J error it was."""
    from py4j.java_gateway import is_instance_of

    gateway = spark.sparkContext._gateway
    cause = exc.java_exception
    for _ in range(8):
        if cause is None:
            break
        if is_instance_of(gateway, cause, "java.io.FileNotFoundException"):
            return FileNotFoundError(str(cause.toString()))
        if is_instance_of(gateway, cause, "java.io.IOException"):
            return OSError(str(cause.toString()))
        cause = cause.getCause()
    return exc


def _op(fn):
    """Count the op and type its failures."""
    name = fn.__name__

    @functools.wraps(fn)
    def wrapper(spark, *args, **kwargs):
        _counts()[name] += 1
        try:
            return fn(spark, *args, **kwargs)
        except Py4JJavaError as exc:
            raise _typed(spark, exc) from exc

    return wrapper


def _resolve(spark, path: str):
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


class Entry(NamedTuple):
    """One child of a listed directory."""

    name: str
    size: int
    is_dir: bool


class Qualified(NamedTuple):
    """A path qualified by its filesystem: the URI parts (``port`` None
    when the URI carries none)."""

    scheme: str
    userinfo: str | None
    host: str | None
    port: int | None
    path: str


@_op
def exists(spark, path: str) -> bool:
    fs, p = _resolve(spark, path)
    return bool(fs.exists(p))


@_op
def list_names(spark, path: str) -> list[str]:
    """Child names of a directory, [] when it is absent, in THREE py4j
    round trips whatever the entry count. The obvious per-status walk
    pays two Python-JVM calls PER ENTRY (~0.8 s for a 2048-band index
    root, against ~0.1 s here): the ``FileStatus[]`` is stringified
    JVM-side (``ArrayUtils.toString``, the one array-joining method
    py4j's reflection matches, since it takes a single ``Object``;
    commons-lang3 ships with Spark) and split in Python. The store
    layouts' child names (``pband=N``, ``tb=N``, part files) never
    contain the ``,`` separator; a comma in the PARENT path would corrupt
    the split, so that case walks the statuses instead."""
    fs, p = _resolve(spark, path)
    if not fs.exists(p):
        return []
    statuses = fs.listStatus(p)
    if len(statuses) == 0:
        return []
    if "," in path:
        return [st.getPath().getName() for st in statuses]
    jvm = spark._jvm
    joined = jvm.org.apache.commons.lang3.ArrayUtils.toString(
        jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(statuses)
    )
    return [n.rsplit("/", 1)[-1] for n in joined[1:-1].split(",")]


@_op
def list_status(spark, path: str) -> list[Entry]:
    """Children of a directory with their sizes, [] when it is absent."""
    fs, p = _resolve(spark, path)
    if not fs.exists(p):
        return []
    return [
        Entry(st.getPath().getName(), int(st.getLen()), bool(st.isDirectory()))
        for st in fs.listStatus(p)
    ]


@_op
def delete(spark, path: str, recursive: bool = True) -> bool:
    """Delete ``path``; False when it did not exist."""
    fs, p = _resolve(spark, path)
    return bool(fs.delete(p, recursive))


@_op
def rename(spark, src: str, dst: str) -> bool:
    """Hadoop rename: False (not an error) when it did not happen."""
    fs, p = _resolve(spark, src)
    return bool(fs.rename(p, spark._jvm.org.apache.hadoop.fs.Path(dst)))


@_op
def touch(spark, path: str) -> None:
    """Create (or truncate) an empty file."""
    fs, p = _resolve(spark, path)
    fs.create(p, True).close()


@_op
def mtime(spark, path: str) -> float:
    """Modification time in unix seconds."""
    fs, p = _resolve(spark, path)
    return fs.getFileStatus(p).getModificationTime() / 1000.0


@_op
def qualify(spark, path: str) -> Qualified:
    fs, p = _resolve(spark, path)
    uri = fs.makeQualified(p).toUri()
    port = uri.getPort()
    return Qualified(
        (uri.getScheme() or "file").lower(),
        uri.getUserInfo(),
        uri.getHost(),
        None if port is None or int(port) == -1 else int(port),
        uri.getPath(),
    )


def _read(spark, fs, p) -> bytes:
    """The file's bytes, read wholly JVM-side: py4j passes ``byte[]``
    buffers BY VALUE, so a Java read into a Python buffer never reflects
    back."""
    stream = fs.open(p)
    try:
        return bytes(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


@_op
def read_bytes(spark, path: str) -> bytes:
    """The file's bytes; :class:`FileNotFoundError` when absent."""
    return _read(spark, *_resolve(spark, path))


@_op
def read_json(spark, path: str) -> dict | None:
    """A JSON file written by :func:`write_json`; None when absent."""
    fs, p = _resolve(spark, path)
    if not fs.exists(p):
        return None
    return json.loads(_read(spark, fs, p).decode("utf-8"))


def _staged_write(spark, path: str, data: bytes, overwrite: bool) -> bool:
    """Write ``data`` to a private temp beside ``path``, then rename it
    into place, so the name only ever appears fully written. With
    ``overwrite`` the old file is deleted first (one driver-side writer:
    nothing interleaves) and a failed rename raises; without it the
    rename arbitrates, as HDFS renames never overwrite, and the loser's
    temp is dropped."""
    fs, p = _resolve(spark, path)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(f"{path}.tmp-{uuid.uuid4().hex}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if overwrite:
        fs.delete(p, False)
    if fs.rename(tmp, p):
        return True
    if overwrite:
        # Hadoop rename reports failure as a boolean, not an exception:
        # surfacing it keeps "meta missing" loud instead of mysterious
        raise OSError(f"staged write failed: rename {tmp} -> {path}")
    fs.delete(tmp, False)
    return False


@_op
def write_json(spark, path: str, obj: dict) -> None:
    """Write ``obj`` as one JSON file, ATOMICALLY: a crash leaves the old
    file, no file, or an invisible temp, never a torn file (a torn
    layout meta would wedge every restart on ``json.loads``). The
    stores' metas and journals are underscore-prefixed, so parquet
    listings skip them and layout and data move as one unit through
    directory renames."""
    _staged_write(spark, path, json.dumps(obj).encode("utf-8"), overwrite=True)


@_op
def put_if_absent(spark, path: str, data: bytes) -> bool:
    """Publish ``data`` under ``path`` iff the name does not exist; True
    when these bytes now own it. Atomic where rename-without-overwrite is
    (HDFS), and content-atomic everywhere: the name never exists with a
    partial payload."""
    return _staged_write(spark, path, data, overwrite=False)
