"""Shared datapipe helpers."""

from __future__ import annotations

import os
import weakref

from pyspark.sql import Column, DataFrame

# ------------------------------------------------------------------
# Parquet HANDLE cache (r10, guide §1.2 "per-task work" applied to the
# driver): every `spark.read.parquet(path)` costs ~60-90 ms of py4j
# round-trips + footer schema resolution, and a query suite re-reads
# the same handful of paths constantly (measured: 8 LOADs = 0.74 s of
# a TPC-H query's 1.7 s plan build). The DataFrame handle is a LAZY
# plan — caching it shares zero DATA across queries or runs (every
# action re-scans the files); it only skips re-deriving the identical
# plan metadata. Keyed per SparkSession (weakly — a stopped session's
# handles die with it) and per (path, fingerprint); the fingerprint
# folds in the file's (or directory's one-level entries') size+mtime,
# so an overwritten table or an appended index directory misses the
# cache and is re-resolved.
_PARQUET_HANDLES: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _path_fingerprint(path: str) -> tuple:
    try:
        st = os.stat(path)
    except OSError:
        return ("missing",)
    if not os.path.isdir(path):
        return (st.st_size, st.st_mtime_ns)
    parts: list[tuple] = [(st.st_mtime_ns,)]
    try:
        for name in sorted(os.listdir(path)):
            try:
                s = os.stat(os.path.join(path, name))
                parts.append((name, s.st_size, s.st_mtime_ns))
            except OSError:
                parts.append((name, -1, -1))
    except OSError:
        pass
    return tuple(parts)


def cached_parquet(spark, path: str) -> DataFrame:
    """`spark.read.parquet(path)` with the resolved handle memoized
    per (session, path, file fingerprint). Returns the SAME lazy plan
    a fresh read would produce; never caches data."""
    per_session = _PARQUET_HANDLES.get(spark)
    if per_session is None:
        per_session = {}
        try:
            _PARQUET_HANDLES[spark] = per_session
        except TypeError:  # unexpectedly un-weakref-able session
            return spark.read.parquet(path)
    key = (path, _path_fingerprint(path))
    df = per_session.get(key)
    if df is None:
        df = spark.read.parquet(path)
        # drop stale fingerprints of the same path, then memoize
        for k in [k for k in per_session if k[0] == path]:
            del per_session[k]
        per_session[key] = df
    return df

def memo_on_df(df: DataFrame, key: str, fn):
    """Memoize a small plan-derived statistic (a probed dimension, a
    row count) ON the DataFrame handle object. DataFrames are
    immutable plans, so the statistic is a pure function of the
    handle; for `cached_parquet` handles the memo's lifetime and
    invalidation are exactly the handle cache's (a changed file is a
    new fingerprint → a new handle → a fresh probe). Never stores
    query RESULTS — only scalar metadata the next plan build would
    re-derive with an identical job (r10: probe_dim + the LSH corpus
    count were one fixed-latency job each, per query, on the same
    memoized corpus handle)."""
    memo = df.__dict__.setdefault("_piglet_stat_memo", {})
    if key not in memo:
        memo[key] = fn()
    return memo[key]


def input_bytes(df: DataFrame) -> int:
    """Total on-disk bytes of the DataFrame's input files (local
    paths; unknown schemes/errors conservatively count 0 — size-gated
    optimizations then stay on their lazy/small side). Metadata only,
    no job. The datapipe twin of the engine's ``_paths_bytes`` gate
    helper (r11)."""
    import os
    from urllib.parse import urlparse
    total = 0
    try:
        for f in df.inputFiles():
            p = urlparse(f)
            if p.scheme in ("", "file"):
                try:
                    total += os.path.getsize(p.path)
                except OSError:
                    pass
    except Exception:
        return 0
    return total


# logical nodes that imply an exchange downstream of the scan — if one
# is present, the data is already redistributed across
# spark.sql.shuffle.partitions and spread() has nothing to fix
_WIDE_NODES = ("Join", "Aggregate", "Repartition", "Sort", "Window",
               "Deduplicate", "Intersect", "Except",
               "RepartitionByExpression")
# narrow but expensive-to-recompute nodes (Python/Arrow stages) —
# pin_if_wide also pins these: the range-bounds sampler re-executing a
# JPEG decode is exactly the double-execution it guards against
_EXPENSIVE_NODES = _WIDE_NODES + (
    "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython",
    "ArrowEvalPython", "MapPartitions")


def _plan_has(plan: str, nodes) -> bool:
    """Anchored node-name match: a node name must start a plan tree
    line (after the `:+- ` prefixes) — a COLUMN named 'JoinKey' or
    'Window' printed inside `Relation [JoinKey#0,…]` must not count
    (r05 review: the old substring match false-positived on it)."""
    import re
    pat = re.compile(
        r"(?m)^[\s:+\-*()\d]*(?:" + "|".join(nodes) + r")\b")
    return pat.search(plan) is not None


def spread(df: DataFrame, *key_cols: str,
           min_bytes: int = 0) -> DataFrame:
    """Repartition up to the cluster's parallelism when the scan
    produced too few splits (small local files → 1 partition → any
    CPU-heavy map stage runs on one core). A no-op at scale, where
    scans already have ≥ defaultParallelism splits.

    ``min_bytes`` (r11): also a no-op below this many ON-DISK input
    bytes — for map passes where the sf0.1 A/B showed the added
    exchange costing more than the parallelism buys on tiny inputs
    (the new r11 call sites pass 2 MB; the 29 pre-r11 sites keep the
    unconditional probe their rounds measured).

    With ``key_cols``, hash-partition on those columns so a downstream
    groupBy/join on the same keys reuses this exchange instead of
    shuffling a second time.

    Only narrow scan/project/filter plans are probed: for them
    ``df.rdd`` is metadata-only. A plan that already contains a
    shuffle is returned unchanged — probing it via ``.rdd`` under AQE
    would EXECUTE the upstream stages at plan-build time (the probe's
    jobs are then thrown away and re-run by the real action), and its
    parallelism is already spark.sql.shuffle.partitions."""
    from pyspark.sql import functions as F
    if min_bytes and input_bytes(df) < min_bytes:
        return df
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return df
    if _plan_has(plan, _WIDE_NODES):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    n_parts = df.rdd.getNumPartitions()
    if n_parts >= target and _parquet_row_groups(df, target) < target:
        # The split COUNT can lie: Spark byte-range-splits a parquet
        # file to ≥ defaultParallelism, but a split with no ROW GROUP
        # START in it yields zero rows — a file written with huge row
        # groups (pyarrow's default is 1M ROWS ≈ 550 MB for a wide
        # table) reports 32 splits of which 30 are empty, and every
        # map stage serializes on the 2 real ones while the
        # partition-count probe says "fine" (r08: the whole sf100
        # decade ran documents on 5 cores and embeddings on 2 before
        # this footer probe; similarity_ivf sat 20+ min on 2 tasks).
        # One pyarrow footer read per input file — metadata-only.
        n_parts = 0
    if n_parts < target:
        if key_cols:
            return df.repartition(target, *[F.col(c) for c in key_cols])
        return df.repartition(target)
    return df


def _parquet_row_groups(df: DataFrame, stop_at: int) -> int:
    """Total row groups across the scan's parquet input files
    (footer metadata only), stopping early once ``stop_at`` is
    reached. Non-parquet or unreadable inputs return ``stop_at``
    (treated as splittable — no behavior change)."""
    try:
        files = df.inputFiles()
    except Exception:
        return stop_at
    if not files or not all(f.endswith(".parquet") for f in files):
        return stop_at
    if len(files) >= stop_at:
        return stop_at
    try:
        import pyarrow.parquet as pq
        total = 0
        for f in files:
            total += pq.ParquetFile(
                f.removeprefix("file:")).metadata.num_row_groups
            if total >= stop_at:
                return stop_at
        return total
    except Exception:
        return stop_at


def pin_if_wide(df: DataFrame) -> DataFrame:
    """``localCheckpoint()`` a DataFrame whose plan contains a shuffle
    (or other wide node), pass narrow scan/project/filter plans
    through untouched. Use before a range partitioning: the range
    partitioner runs a range-bounds SAMPLING job over its input, so an
    expensive un-materialized upstream executes twice — once for the
    sampler, once for the real shuffle (measured 2.6× the whole query
    for dsir_resample at sf10, SCALE.md r05). For a plain scan the
    double read is cheaper than materializing, so narrow plans are
    left alone."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return df
    if _plan_has(plan, _EXPENSIVE_NODES):
        return df.localCheckpoint()
    return df


# The one size gate of the global rank: up to this many input rows
# (exact count) one window ranks everything; above it the two-phase
# range-partition rank keeps any single partition from holding the
# whole input.
RANK_SMALL_ROWS = 2_000_000


def cum_offsets(stats: DataFrame, count_col: str = "__cnt",
                partition_by=()) -> tuple[DataFrame, int]:
    """(offsets_df, total): exclusive prefix sum of ``count_col`` over
    a per-range-partition stats table keyed by ``__pid`` (and the
    ``partition_by`` columns, whose prefix sums run separately) — the
    second phase of :func:`global_rank` and of the executor's
    ZIP WITH INDEX. ``offsets_df`` has the columns ``__pid``,
    ``*partition_by``, ``__off``; ``total`` sums every row.

    Computed DRIVER-side from the collected stats rows: the table is
    at most partitions × groups rows by construction (never the data),
    and the driver loop replaces a global ``Window.orderBy`` over it —
    no single-partition WindowExec and no "No Partition Defined"
    warning. Callers must pass stats derived from a PINNED
    (checkpointed) base so this eager collect doesn't recompute the
    upstream."""
    from pyspark.sql import types as T
    groups = list(partition_by)
    rows = stats.select("__pid", *groups,
                        stats[count_col].alias("__c")).collect()
    run: dict = {}
    data, total = [], 0
    for r in sorted(rows, key=lambda r: r["__pid"]):
        g = tuple(r[c] for c in groups)
        c = int(r["__c"] or 0)
        data.append((int(r["__pid"]), *g, run.get(g, 0)))
        run[g] = run.get(g, 0) + c
        total += c
    schema = T.StructType(
        [T.StructField("__pid", T.IntegerType(), False)]
        + [T.StructField(c, stats.schema[c].dataType) for c in groups]
        + [T.StructField("__off", T.LongType(), False)])
    return stats.sparkSession.createDataFrame(data, schema), total


def global_rank(df: DataFrame, order, *, weight: Column | None = None,
                partition_by=(), ties: str = "row"
                ) -> tuple[DataFrame, int]:
    """Global total-order rank: ``(ranked, total)``, where ``ranked``
    is ``df`` plus a LONG column ``__rk`` holding, for each row, the
    exclusive prefix sum of ``weight`` (default 1) over the rows
    before it in ``order`` within its ``partition_by`` group, and
    ``total`` is the sum of ``weight`` over all rows.

    ``ties`` says which rows count as "before":
    - ``"row"``: every earlier row — with the default weight, the
      0-based row number (``ROW_NUMBER() - 1``). Equal ``order`` keys
      break arbitrarily, so pass a total order (end it with a unique
      id);
    - ``"rank"``: earlier rows with a different key (``RANK() - 1``);
    - ``"dense"``: earlier distinct keys (``DENSE_RANK() - 1``).

    The input is pinned (a lazy ``localCheckpoint`` that the exact
    count materializes), so the count and the rank read the same rows
    and an expensive upstream runs once — pass a narrow projection.
    Up to :data:`RANK_SMALL_ROWS` rows one window computes the column.
    Larger inputs take the TeraSort two-phase rank: range-partition on
    (``partition_by``, ``order``) — equal keys colocate, so
    per-partition RANK / DENSE_RANK are globally correct — pin the
    partition ids, rank within each partition, and add the per-
    partition offsets that :func:`cum_offsets` computes on the driver
    and the join broadcasts back. No single-partition global window,
    never data on the driver."""
    from functools import reduce

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    if ties not in ("row", "rank", "dense"):
        raise ValueError(f"global_rank: unknown ties {ties!r}")
    if weight is not None and ties != "row":
        raise ValueError("global_rank: weight needs ties='row'")
    for c in ("__rk", "__pid", "__off"):
        if c in df.columns:
            raise ValueError(
                f"global_rank: input already has a {c!r} column — "
                "rename it first")
    order, groups = list(order), list(partition_by)
    w = F.lit(1) if weight is None else weight

    def before(win):
        if ties == "rank":
            return F.rank().over(win) - 1
        if ties == "dense":
            return F.dense_rank().over(win) - 1
        if weight is None:
            return F.row_number().over(win) - 1
        return F.coalesce(F.sum(w).over(win.rowsBetween(
            Window.unboundedPreceding, -1)), F.lit(0))

    pinned = df.localCheckpoint(eager=False)
    n, total = pinned.agg(F.count(F.lit(1)), F.sum(w)).first()
    total = int(total or 0)
    if n <= RANK_SMALL_ROWS:
        # ungrouped, one partition already meets the window's
        # all-rows distribution: no exchange, no extra job
        src = pinned if groups else pinned.coalesce(1)
        win = Window.partitionBy(*groups).orderBy(*order)
        return src.withColumn("__rk", before(win).cast("long")), total
    nparts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # pinned: the stats job and the ranking job must see the SAME
    # partition ids (two executions of the range exchange may be
    # coalesced differently)
    base = (pinned.repartitionByRange(nparts, *groups, *order)
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint(eager=False))
    win = Window.partitionBy("__pid", *groups).orderBy(*order)
    if ties == "dense":
        # distinct keys per partition = its largest local dense rank
        stats = (base.select("__pid", *groups,
                             F.dense_rank().over(win).alias("__d"))
                 .groupBy("__pid", *groups).agg(F.max("__d").alias("__c")))
    else:
        stats = base.groupBy("__pid", *groups).agg(F.sum(w).alias("__c"))
    off, _ = cum_offsets(stats, "__c", groups)
    local = base.withColumn("__rk", before(win))
    # null-safe on the groups: a NULL group is one group, as in the
    # single window
    cond = reduce(lambda a, b: a & b,
                  [local["__pid"] == off["__pid"]]
                  + [local[g].eqNullSafe(off[g]) for g in groups])
    ranked = (local.join(F.broadcast(off), cond)
              .select(*[local[c] for c in pinned.columns],
                      (local["__rk"] + off["__off"]).cast("long")
                      .alias("__rk")))
    return ranked, total


def salted_join(big: DataFrame, dim: DataFrame, on: str | list[str],
                how: str = "inner", salt: int = 16) -> DataFrame:
    """Skew-resistant equi-join: salt the BIG side's key with a
    deterministic hash-derived suffix (0..salt-1) and replicate the
    dim side ``salt``× so each hot key's rows spread over ``salt``
    reducer partitions instead of one straggler task.

    Use when one join key carries a disproportionate share of the big
    side (the classic web-corpus 'null/empty/default key' skew) and
    AQE's skew-join splitting isn't available or isn't enough. The
    salt is POSITIONAL — ``pmod(monotonically_increasing_id(), salt)``
    cycles 0,1,2,… within each partition — so it spreads uniformly
    even when the hot rows are bit-for-bit identical (a value-hash
    salt sends all identical rows to ONE reducer, exactly the skew it
    was meant to fix — r02 advice), and it never touches column
    values, so map-typed columns that ``F.hash`` rejects are fine.
    Output correctness does not depend on salt stability: the dim
    side carries every salt value, so any salt assignment joins each
    big row exactly once. Replicating the dim side costs salt× its
    size — keep it for genuinely small dims (the broadcast-join
    regime, when broadcast alone can't fix the reducer skew of a
    shuffle join downstream).

    Result equals ``big.join(dim, on, how)`` column-for-column; only
    inner and left joins are supported (a right/full join would need
    dim-side dedup of the replicated unmatched rows).

    Also reachable from the language: ``J = JOIN big BY k, dim BY k
    USING 'salted(16)';`` (executor._salted_join)."""
    from pyspark.sql import functions as F

    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    if "__salt" in big.columns or "__salt" in dim.columns:
        # withColumn would silently REPLACE (and drop() then delete)
        # the user's column, breaking the column-for-column contract
        raise ValueError(
            "salted_join: input already has a '__salt' column — "
            "rename it before joining")
    keys = [on] if isinstance(on, str) else list(on)
    big_salted = big.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(),
                         F.lit(salt)).cast("int"))
    dim_rep = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    dim_rep = dim_rep.withColumn("__salt", F.col("__salt").cast("int"))
    out = big_salted.join(dim_rep, on=keys + ["__salt"], how=how)
    return out.drop("__salt")
