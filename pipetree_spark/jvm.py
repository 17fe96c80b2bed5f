"""Every reach past PySpark's public API, in one module.

PySpark gives no handle on a checkpoint's pinned RDD, the block
manager's storage info or the Hadoop FileSystem; the engine needs all
three. A PySpark upgrade that moves one breaks this module alone, and
``tests/test_jvm.py`` calls each against the installed version so the
break is loud.

A pin (:func:`pin`, the package's only ``localCheckpoint``) is the
lineage cut inside an operator; the artifact cache is the cut between
pipeline stages. Pinned blocks stay on the executors until
:func:`release` (``unpersist()`` is a silent no-op for checkpoint
state) and cannot be recomputed, so release a pin only after the last
action that reads it.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def pin(
    df: DataFrame, eager: bool = True, replaces: Iterable[DataFrame | None] = ()
) -> DataFrame:
    """``df`` with its lineage cut by a ``localCheckpoint``.

    An eager pin materializes now, then releases every frame in
    ``replaces`` (superseded iteration state; ``None`` is skipped), so
    an iterative operator leaves pinned only what its result reads. A
    lazy pin materializes on the first action that reads it — under
    AQE every upstream query stage still runs at call time, only the
    final stage defers — so it cannot release anything yet and refuses
    ``replaces``."""
    replaces = [old for old in replaces if old is not None]
    if replaces and not eager:
        raise ValueError("pin: only an eager pin can release the frames it replaces")
    pinned = df.localCheckpoint(eager=eager)
    for old in replaces:
        release(old)
    return pinned


def _pinned_rdds(df: DataFrame) -> list:
    """The RDDs behind ``df``'s analyzed plan that ``localCheckpoint``
    marked — its ``LogicalRDD`` leaves, minus RDDs a caller turned into
    frames."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    rdds = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD":
            rdd = leaf.rdd()
            if rdd.isLocallyCheckpointed():
                rdds.append(rdd)
    return rdds


def release(df: DataFrame) -> set[int]:
    """Free every pin ``df`` reads; returns the released RDD ids. No
    frame that reads those pins may run afterwards."""
    released = set()
    for rdd in _pinned_rdds(df):
        rdd.unpersist(False)
        released.add(int(rdd.id()))
    return released


#: Default stored-bytes ceiling for a broadcast HINT on a frame derived
#: from a pinned relation: 64 MB of stored rows keeps the hinted hash
#: relation safely inside any sane broadcast budget; past it the join
#: is left unhinted and AQE picks the strategy from runtime sizes (an
#: unconditional hint gambles driver memory on a data-proportional set).
BROADCAST_HINT_MAX_BYTES = 64 << 20


def stored_bytes(df: DataFrame) -> int | None:
    """Driver-side stored size (mem+disk bytes) of a pinned frame — read
    from the block manager's RDD storage info, so a gate on it costs
    ZERO jobs (a ``DataFrame.observe`` metric or a ``count()`` each
    measured ~0.1 s of extra job + blocking per query at sf0.1).
    Returns None when the backing RDD cannot be found (callers treat
    that as too-big)."""
    try:
        jrdd = df._jdf.queryExecution().analyzed().rdd()
        rid = jrdd.id()
        for info in df.sparkSession._jsc.sc().getRDDStorageInfo():
            if info.id() == rid:
                return int(info.memSize()) + int(info.diskSize())
    except Exception:
        pass
    return None


def broadcast_if_small(
    df: DataFrame,
    stored: DataFrame,
    max_bytes: int = BROADCAST_HINT_MAX_BYTES,
) -> DataFrame:
    """Broadcast-hint ``df`` only while ``stored`` (the pinned frame
    ``df`` derives from and is bounded by) materialized at ≤
    ``max_bytes`` — the shared zero-job gate behind the LSH candidate-id
    and cluster-dedup rep-id semi-joins."""
    size = stored_bytes(stored)
    if size is not None and size <= max_bytes:
        return F.broadcast(df)
    return df


def hadoop_fs(spark: SparkSession, path: str):
    """``(fs, jpath)``: the Hadoop FileSystem ``path`` resolves to (its
    scheme, or ``fs.defaultFS`` when bare — file://, HDFS and S3A
    alike) and the path itself."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath
