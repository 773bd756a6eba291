"""Partition width: the one place that decides how wide a stage runs."""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.errors import IllegalArgumentException
from pyspark.sql import DataFrame


def _conf_bytes(val: str) -> int:
    """Parse a Spark byte conf ("134217728", "128m", "1g") to bytes."""
    val = val.strip().lower().rstrip("b")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if val and val[-1] in units:
        return int(float(val[:-1]) * units[val[-1]])
    return int(val)


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Spread ``df`` over ``defaultParallelism`` partitions unless it
    already is, reading driver-side metadata only (no Spark job).

    Why pin: the heavy stages (k x md5, explode, exact cosines, graph
    rounds) are CPU-dense per byte, but AQE coalesces shuffles by BYTES,
    so a few-MB input lands on 1-3 tasks on any cluster, and a checkpoint
    keeps that layout for every later round. AQE never coalesces a
    user-numbered repartition.

    With ``keys``: a REPARTITION_BY_NUM exchange on them, unless
    :func:`_hash_distributed` finds that layout already in place. Without
    keys: a tiny parquet file scans as one partition, so when the scan's
    estimated splits fall short of cluster parallelism, round-robin
    repartition the (small) input; at scale this is a no-op.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if keys:
        if _hash_distributed(df, keys, target):
            return df
        return df.repartition(target, *keys)
    files = df.inputFiles()
    if not files or len(files) >= target:
        return df  # non-file source, or already enough splits
    max_part = _conf_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    open_cost = _conf_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    )
    sizes = []
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("file", ""):
            # remote store: stat through the Hadoop FS (one RPC per file,
            # bounded by target-1 files) — file count alone cannot
            # distinguish "few small files" (needs the repartition) from
            # "few big files" (the scan splits them itself)
            try:
                jvm = spark._jvm
                jpath = jvm.org.apache.hadoop.fs.Path(f)
                fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
                sizes.append(int(fs.getFileStatus(jpath).getLen()))
            except Exception:
                # unreachable store mid-build: trust the scan rather than
                # risk shuffling a large input for nothing
                return df
            continue
        try:
            sizes.append(os.path.getsize(unquote(u.path)))
        except OSError:
            # file vanished between listing and stat (compaction race):
            # count it as one split and keep going — never fail the build
            sizes.append(0)
    # Mirror Spark's FilePartition sizing: maxSplitBytes =
    # min(maxPartitionBytes, max(openCostInBytes, totalBytes/parallelism))
    # — using maxPartitionBytes alone undercounts splits and would add a
    # full-scan shuffle for inputs the scan already parallelizes.
    total = sum(sizes) + open_cost * len(sizes)
    max_split = min(max_part, max(open_cost, total // max(1, target)))
    est_splits = sum(max(1, -(-s // max_split)) for s in sizes)
    if est_splits >= target:
        return df
    return df.repartition(target)


def _hash_distributed(df: DataFrame, keys: tuple[str, ...], width: int) -> bool:
    """True when ``df`` is hash-partitioned on exactly ``keys`` by a
    bucketed scan, or by a user-numbered repartition >= ``width`` wide.
    The plan is read before EnsureRequirements, so the exchanges of an
    ordinary join or aggregate (which AQE coalesces) never count."""
    node = df._jdf.queryExecution().sparkPlan()
    part = _layout(node)
    if part is None or part.getClass().getSimpleName() != "HashPartitioning":
        return False
    exprs = [part.expressions().apply(i) for i in range(part.expressions().size())]
    if [e.toString().split("#")[0] for e in exprs] != list(keys):
        return False
    while True:  # down to the operator that introduced the layout
        kids = [node.children().apply(i) for i in range(node.children().size())]
        same = [k for k in kids if part.equals(_layout(k))]
        if not same:
            break
        node = same[0]
    origin = node.getClass().getSimpleName()
    return origin == "FileSourceScanExec" or (
        origin == "ShuffleExchangeExec"
        and node.shuffleOrigin().toString() == "REPARTITION_BY_NUM"
        and part.numPartitions() >= width
    )


def _layout(node):
    """``node``'s output partitioning, or None for a join whose sides
    differ in width: it has no single layout until EnsureRequirements
    aligns them."""
    try:
        return node.outputPartitioning()
    except IllegalArgumentException:
        return None
