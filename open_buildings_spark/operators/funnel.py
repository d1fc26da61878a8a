"""The one driver funnel behind the single-file geo exports.

GeoPackage, Shapefile and FlatGeobuf are single-file formats: encoding
parallelizes, but one writer assembles the file (the reference pays the
same funnel inside one GDAL process, download_buildings.py:304-311). Each
format supplies exactly two functions:

- ``encode(rb) -> RecordBatch | None`` — the executor-side kernel: one
  input Arrow batch to one encoded batch (None when nothing in it
  encodes). Values a format cannot hold raise :class:`EncodeError`.
- ``write_file(path, batches, ...) -> (n, envelope)`` — the assembler:
  one complete file from the encoded batches, published atomically via
  :func:`publish`. ``batches(columns=None, prep=None)`` returns a fresh
  iterator over the encoded batches, pruned to ``columns`` and mapped
  through ``prep``; a format that needs two passes (FlatGeobuf writes its
  index before its features) calls it twice.

``write_gpkg`` / ``write_shp`` / ``write_fgb`` run ``encode`` in one
``mapInArrow`` pass into scratch Arrow IPC files via :func:`scratch`,
which streams them back to ``write_file`` through a bounded prefetch
thread. ``sharded_export`` hands each shard's encoded batches to the same
``write_file`` from task memory via :func:`in_memory`.
"""

from __future__ import annotations

import os
import re
import shutil
import threading
from contextlib import contextmanager
from queue import Full, Queue

THREAD_NAME = "export-funnel-prefetch"


class EncodeError(ValueError):
    """A value the target format cannot hold, located by ``column`` and
    ``row`` (the row's index in the kernel's input batch)."""

    def __init__(self, column: str, row: int, reason: str) -> None:
        super().__init__(f"column {column!r}, row {row}: {reason}")
        self.column, self.row, self.reason = column, row, reason


def _prefetch(items, depth: int = 2):
    """Iterate ``items`` on a background thread up to ``depth`` ahead, so
    the Arrow decode (and the format's ``prep``) of the next batch
    overlaps the writer's work on the current one. Closing the generator
    — the consumer finished, raised, or the funnel exited — sets the stop
    flag; the thread gives up its pending ``put`` and is joined."""
    q: Queue = Queue(maxsize=depth)
    stop = threading.Event()

    def put(msg) -> bool:
        while not stop.is_set():
            try:
                q.put(msg, timeout=0.05)
                return True
            except Full:
                pass
        return False

    def run() -> None:
        try:
            for item in items:
                if not put((True, item)):
                    return
        except BaseException as ex:  # re-raised in the consumer
            put((False, ex))
        else:
            put((False, None))

    t = threading.Thread(target=run, name=THREAD_NAME, daemon=True)
    t.start()
    try:
        while True:
            ok, item = q.get()
            if not ok:
                if item is not None:
                    raise item
                return
            yield item
    finally:
        stop.set()
        t.join()


def _on_executor(encode, work: str):
    """mapInArrow body around a format's kernel: writes the task's encoded
    batches to one Arrow IPC file in ``work`` and yields its name (no row
    when nothing encoded). The name is attempt-unique, so a retried or
    speculative attempt never interleaves with another; the driver reads
    only the files the successful attempts report. An
    :class:`EncodeError` becomes a ValueError that locates the row within
    its task's partition."""

    def run(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        tc = TaskContext.get()
        name = f"part-{tc.partitionId():05d}-{tc.taskAttemptId()}.arrow"
        writer = None
        seen = 0
        try:
            for rb in batches:
                try:
                    out = encode(rb)
                except EncodeError as ex:
                    raise ValueError(
                        f"column {ex.column!r}, row {seen + ex.row} of "
                        f"partition {tc.partitionId()}: {ex.reason}"
                    ) from None
                seen += rb.num_rows
                if out is None or not out.num_rows:
                    continue
                if writer is None:
                    writer = pa.ipc.new_file(os.path.join(work, name), out.schema)
                writer.write_batch(out)
        finally:
            if writer is not None:
                writer.close()
        if writer is not None:
            yield pa.record_batch([pa.array([name])], names=["file"])

    return run


@contextmanager
def scratch(df, path: str, encode):
    """Run ``encode`` over ``df`` on the executors into Arrow IPC files in
    a hidden scratch directory next to ``path`` (one Spark job), and yield
    the ``batches`` source over them, in partition order and memory-mapped
    so a pruned read touches only its columns. However the block exits,
    every prefetch thread it started is stopped and joined and the
    scratch directory is removed. A ValueError raised by the kernel on an
    executor comes back as a ValueError with the executor's message,
    instead of a wrapped Spark task failure."""
    import pyarrow as pa
    from pyspark.errors import PythonException

    d, base = os.path.split(os.path.abspath(path))
    work = os.path.join(d, f".{base}.parts")
    files: list[str] = []
    readers: list = []

    def read(columns):
        for name in files:
            reader = pa.ipc.open_file(pa.memory_map(os.path.join(work, name)))
            for i in range(reader.num_record_batches):
                rb = reader.get_batch(i)
                yield rb.select(columns) if columns else rb

    def batches(columns=None, prep=None):
        gen = _prefetch(map(prep, read(columns)) if prep else read(columns))
        readers.append(gen)
        return gen

    shutil.rmtree(work, ignore_errors=True)
    try:
        os.makedirs(work)
        try:
            rows = df.mapInArrow(_on_executor(encode, work), "file string").collect()
        except PythonException as ex:
            # the executor's exception reaches the driver only as the
            # worker's traceback text; its last line is the message
            found = re.findall(r"^ValueError: (.+)$", str(ex), re.M)
            if not found:
                raise
            raise ValueError(found[-1]) from None
        files.extend(sorted(r["file"] for r in rows))
        yield batches
    finally:
        for gen in readers:
            gen.close()
        shutil.rmtree(work, ignore_errors=True)


def in_memory(encoded: list):
    """``batches`` source over encoded batches already in task memory
    (one shard of ``sharded_export``); column pruning is moot there."""

    def batches(columns=None, prep=None):
        return map(prep, encoded) if prep else iter(encoded)

    return batches


@contextmanager
def publish(path: str):
    """Yield an attempt-unique tmp path next to ``path``. A clean exit
    renames it onto ``path``; any exception removes it, so a failed write
    leaves neither a final file nor a hidden ``.inprogress`` one."""
    from ..pdexact import attempt_tmp

    tmp = attempt_tmp(path)
    try:
        yield tmp
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
