"""Bounded replay: stage the input, read it back as a stream, drain the query.

Every bounded replay stages its input as ``chunk_<i>`` parquet directories,
reads them with ``read_chunks`` (a file stream source, one chunk file per
micro-batch), and runs its query to completion with ``drain`` (any
``DataStreamWriter``) or ``drain_to_table`` (a memory sink, returned as a
DataFrame). Those two are the only places a bounded replay starts a query:
each runs with ``trigger(availableNow=True)`` at a small shuffle-partition
count, since a stateful query pays per-partition state-store cost every
micro-batch.

``split_chunks`` is the one splitter: it cuts a relation at approximate
quantiles of its event-time (or key) column. Time-ordered replays then
append sentinel waves that lift the watermark past the data.

The file source orders files by modification time. Relying on write timing
for distinct mtimes is fragile on filesystems with coarse mtime
granularity, where a sentinel wave sharing an mtime with a data chunk
collapses into the same micro-batch and defeats the two-wave watermark
flush. ``stamp_chunk_mtimes`` makes ordering explicit: every file under
``chunk_<i>*`` gets mtime ``base + i`` seconds (whole-second spacing clears
any filesystem's resolution), so batch order equals chunk index regardless
of write timing.
"""
from __future__ import annotations

import os
import re
import uuid

from flink_example_spark.session import shuffle_partitions

_CHUNK_RE = re.compile(r"^chunk_(\d+)")


def stamp_chunk_mtimes(tmpdir: str) -> None:
    """Set strictly-increasing mtimes on staged chunk files by chunk index."""
    entries = []
    for name in os.listdir(tmpdir):
        m = _CHUNK_RE.match(name)
        if m:
            entries.append((int(m.group(1)), os.path.join(tmpdir, name)))
    base = max(
        (
            os.path.getmtime(os.path.join(d, f))
            for _, d in entries
            for f in os.listdir(d)
        ),
        default=0.0,
    )
    for idx, d in sorted(entries):
        ts = base + 1.0 + idx
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (ts, ts))


def split_chunks(df, order_col: str, chunks: int, tmpdir: str) -> None:
    """Write ``df`` as ``chunk_0`` .. ``chunk_<chunks-1>`` parquet dirs under
    ``tmpdir``, cut at approximate ``order_col`` quantiles so chunk ``i``
    holds the i-th range; rows with a NULL ``order_col`` go to ``chunk_0``,
    so every chunk count stages the same rows. Range filters only — no row
    data crosses the driver, and any disjoint split works, so approximate
    cutpoints are fine. Callers add their sentinel waves, then
    ``stamp_chunk_mtimes``."""
    from pyspark.sql import functions as F

    key = F.col(order_col).cast("double")
    cuts = (
        df.agg(
            F.percentile_approx(key, [i / chunks for i in range(1, chunks)], 10000)
        ).first()[0]
        if chunks > 1
        else []
    )
    # The quantiles are NULL when no row has an order_col value; cutting at
    # +inf then puts every row in chunk_0.
    bounds = [None, *(cuts or [float("inf")] * (chunks - 1)), None]
    for i in range(chunks):
        part = df
        if bounds[i] is not None:
            part = part.filter(key >= bounds[i])
        if bounds[i + 1] is not None:
            below = key < bounds[i + 1]
            part = part.filter(below | key.isNull() if i == 0 else below)
        part.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmpdir, f"chunk_{i}")
        )


def read_chunks(spark, tmpdir: str, schema):
    """Stream the staged ``chunk_*`` dirs under ``tmpdir``, one file per
    micro-batch, in mtime (= chunk index) order."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(tmpdir, "chunk_*"))
    )


def drain(writer, partitions: int = 8) -> None:
    """Start ``writer`` with ``trigger(availableNow=True)`` and wait until it
    has processed everything its source holds. Runs at ``partitions``
    shuffle partitions; the session value is restored and the query stopped
    afterwards, also when the query fails (its exception reaches the
    caller)."""
    with shuffle_partitions(writer._spark, partitions):
        query = writer.trigger(availableNow=True).start()
        try:
            query.awaitTermination()
        finally:
            query.stop()


def drain_to_table(df, mode: str, partitions: int = 8):
    """Drain the streaming ``df`` into a fresh memory sink in output
    ``mode`` and return the sink as a DataFrame."""
    name = f"replay_{uuid.uuid4().hex}"
    drain(df.writeStream.outputMode(mode).format("memory").queryName(name), partitions)
    return df.sparkSession.table(name)


_STAGE_MEMO: dict = {}


def stage_table_by_key(spark, sf_dir: str, table: str, key_col: str, chunks: int):
    """Stage any harness table as key-ordered chunk files for bounded
    replay. Returns (tmpdir, schema).

    Session-memoized: a sweep runs dozens of bounded-replay twins, and
    re-staging the same deterministic chunk files per twin is pure
    waste — the staged dir is immutable once stamped (callers only read
    it), so every identically-parameterized caller shares it."""
    import tempfile

    from flink_example_spark.tables import load_table

    memo_key = (
        spark.sparkContext.applicationId, sf_dir, table, key_col, chunks
    )
    if memo_key in _STAGE_MEMO:
        return _STAGE_MEMO[memo_key]
    df = load_table(spark, sf_dir, table)
    tmpdir = tempfile.mkdtemp(prefix=f"stream_{table}_")
    split_chunks(df, key_col, chunks, tmpdir)
    stamp_chunk_mtimes(tmpdir)
    _STAGE_MEMO[memo_key] = (tmpdir, df.schema)
    return tmpdir, df.schema
