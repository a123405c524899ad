"""Shared expression/plan helpers for operators."""

from __future__ import annotations

import logging
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def spread(df: DataFrame, parallelism: Optional[int] = None) -> DataFrame:
    """Round-robin repartition before CPU-heavy row-local compute — only
    when the input is underparallelized.

    Single-file fixture tables arrive as one input partition; per-row
    signature/dot-product work then runs on one core.  If the input
    already reads from enough splits, this is a no-op — no extra
    exchange.  At 100 TB inputs arrive in thousands of splits and this
    never fires.  ``parallelism=0`` disables.

    The probe never touches ``df.rdd`` (which would build a full
    physical plan + RDD DAG per call).  Two cheap driver-side signals:

    - ``df.storageLevel``: a persisted input is the snapshot cache from
      ``io.load_table``, which already applied its spread-at-cache
      policy (repartition to default parallelism for tables above the
      size floor) — re-shuffling it here would add an exchange per call
      and defeat the cache.
    - ``df.inputFiles()``: file-scan-rooted plans report their files from
      metadata the relation has already listed.  File COUNT alone is not
      partition count — FileSourceScan bin-packs many small files into
      few partitions (``maxPartitionBytes``/``openCostInBytes``), so for
      local files the probe mirrors ``FilePartition.maxSplitBytes`` to
      estimate the packed partition count from the actual byte sizes
      (a thousand tiny files can read as 1-2 partitions).
      Non-local URIs (no cheap size lookup) fall back to the file count;
      plans with no file root (in-memory fixtures, streaming) report zero
      files and take the repartition: correct for their actual fixture
      size, and the shuffled volume is by construction small.
    """
    if parallelism == 0:
        return df
    n = parallelism or df.sparkSession.sparkContext.defaultParallelism
    try:
        if df.storageLevel.useMemory or df.storageLevel.useDisk:
            return df
        files = df.inputFiles()
        est = _estimated_scan_partitions(df, files)
        if est is None:
            est = len(files)
        if est >= max(2, n // 2):
            return df
    except Exception as exc:
        log.warning("spread: partition probe failed, repartitioning: %r", exc)
    return df.repartition(n)


def _size_bytes(v: str) -> int:
    """Parse a Spark byte-size conf string (``128MB``, ``4m``, ``1048576``,
    ``…b``) into bytes."""
    s = v.strip().lower()
    for suffix, mult in (
        ("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20), ("kb", 1 << 10),
        ("t", 1 << 40), ("g", 1 << 30), ("m", 1 << 20), ("k", 1 << 10),
        ("b", 1),
    ):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * mult)
    return int(s)


def _estimated_scan_partitions(df: DataFrame, files) -> Optional[int]:
    """Estimate how many partitions a file scan actually produces, using
    the same bin-packing formula as ``FilePartition.maxSplitBytes``:

        totalBytes   = Σ (file size + openCostInBytes)
        bytesPerCore = totalBytes / defaultParallelism
        maxSplit     = min(maxPartitionBytes, max(openCost, bytesPerCore))
        partitions  ≈ ceil(totalBytes / maxSplit)

    Returns ``None`` when any file is on a filesystem the driver cannot
    stat cheaply (non-local URI) — callers fall back to file count.
    """
    import os
    from urllib.parse import unquote, urlparse

    if not files:
        return 0
    sizes = []
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None
        try:
            sizes.append(os.path.getsize(unquote(parsed.path)))
        except OSError:
            return None
    conf = df.sparkSession.conf
    max_pb = _size_bytes(conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    open_cost = _size_bytes(conf.get("spark.sql.files.openCostInBytes", "4MB"))
    cores = df.sparkSession.sparkContext.defaultParallelism
    total = sum(sizes) + open_cost * len(sizes)
    bytes_per_core = total // max(1, cores)
    max_split = min(max_pb, max(open_cost, bytes_per_core))
    return -(-total // max(1, max_split))  # ceil


def bind_once(expr: Column, fn) -> Column:
    """Evaluate ``expr`` exactly once per row and pass the result to ``fn``
    as a higher-order-function lambda variable.

    Catalyst's CollapseProject inlines intermediate projection columns into
    the lambdas that reference them, so an expensive array expression
    "materialized" in its own ``select`` is still re-evaluated once per
    element of any outer ``transform``/``aggregate`` that uses it.  Binding
    through ``transform(array(e), v -> fn(v))[0]`` forces single
    evaluation: ArrayTransform evaluates its argument once, then runs the
    lambda over the one element.
    """
    return F.transform(F.array(expr), fn)[0]


def explode_at_least(score: Column, threshold: float) -> Column:
    """Generator that emits ``score`` once when it is ≥ ``threshold`` and
    nothing otherwise; a NULL score emits nothing.

    Projecting a score and then filtering on it evaluates the score
    twice: the optimizer pushes the predicate below the projection, and
    through it into a join condition, as a second copy of the whole
    expression.  A generator's argument is not split that way, so
    ``select(..., explode_at_least(score, t))`` scores each row once.
    """
    return F.explode(F.filter(F.array(score), lambda s: s >= threshold))


def morton_key(a, b, *, bits: int = 10):
    """Morton (Z-order) interleave of two ``bits``-wide nonnegative
    integer columns: ``a``'s bit *i* lands at position ``2i``, ``b``'s at
    ``2i+1``.  Row-local integer arithmetic; sorting by the result
    co-locates both dimensions for min/max data skipping
    (``tests/test_scale_strategies.py`` proves the pruning on real
    parquet footers)."""
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def morton3_key(a, b, c, *, bits: int = 5):
    """Three-dimensional Morton (Z-order) interleave: bit *i* of ``a``
    lands at position ``3i``, of ``b`` at ``3i+1``, of ``c`` at
    ``3i+2``.  The 2-D proof (:func:`morton_key`) generalizes: sorting
    by the result gives every file a tight manifest [min, max] in ALL
    THREE dimensions at once, so a range predicate on ANY of them
    prunes files — multi-dimensional clustering without one clustering
    key winning.  Row-local integer arithmetic, whole-stage codegen."""
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(a, i).bitwiseAND(F.lit(1)), 3 * i
                )
            )
            .bitwiseOR(
                F.shiftleft(
                    F.shiftright(b, i).bitwiseAND(F.lit(1)), 3 * i + 1
                )
            )
            .bitwiseOR(
                F.shiftleft(
                    F.shiftright(c, i).bitwiseAND(F.lit(1)), 3 * i + 2
                )
            )
        )
    return z
