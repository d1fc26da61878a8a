"""Adaptive quadkey partitioner (= ``ob overture partition``).

Reference semantics (open_buildings/overture/partition.py:132-152): per
country, starting at prefix length 1, recursively split any quadkey cell
holding more than ``max_per_file`` rows; leaf cells are written as files
sorted by quadkey. The reference issues one DISTINCT + one COUNT query per
cell (O(cells) scans); the engine computes ONE z12 histogram in a single
shuffle and resolves the whole recursion on that histogram — same output
cells, one pass over the data.

Split cap: prefixes stop at length 12 (a z12 cell denser than max_per_file
cannot be split further — the reference would loop forever on it;
documented deviation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_LEVEL = 12


def cell_histogram(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """One-pass per-z12-cell row counts: groupBy(quadkey[, keys]).count().

    NULL quadkeys (parse-degraded rows that survived an upstream filter)
    are excluded — a None in the histogram would crash the driver-side
    argsort and such rows can't be routed to any cell anyway."""
    keys = keys or []
    return (
        df.filter(F.col("quadkey").isNotNull())
        .groupBy(*keys, F.substring("quadkey", 1, MAX_LEVEL).alias("qk12"))
        .agg(F.count("*").alias("n"))
    )


COARSE_LEVEL = 8


def hier_histogram(
    df: DataFrame,
    max_per_file: int,
    keys: list[str] | None = None,
    coarse_level: int = COARSE_LEVEL,
):
    """Driver-memory-bounded histogram for the partition planner.

    One shuffle over the DATA builds the (cached, distributed) z12
    aggregate; the driver then collects
      1. the z{coarse_level} rollup (a tiny second shuffle over the cached
         aggregate, never the data), and
      2. z12 rows ONLY inside over-cap coarse cells
    so collected rows = O(4^coarse + over-cap cells x 4^(12-coarse))
    instead of every z12 cell x key value (a planet-scale table with
    mostly-sparse geography collects a small fraction of its z12 cells).

    Returns (pandas DataFrame with columns keys... qk n — ``qk`` of length
    coarse_level for under-cap regions, 12 inside over-cap ones — ,
    n_collected). Regions are represented EITHER by their coarse row OR by
    their z12 rows, never both, so prefix-range sums over the mixed rows
    are exact.

    The under/over split happens Spark-side with ONE window sum over the
    z12 aggregate (partitionBy keys + coarse prefix): under-cap coarse
    cells emit their windowed total (local distinct — the window's hash
    partitioning already clusters them), over-cap ones emit their z12
    rows. No broadcast build job, no cache pin, and — unlike equi-joins —
    window partitioning groups NULL key values together, so a NULL
    partition-key group over the cap still splits to z12 correctly. The
    two filter branches share one lineage, so exchange reuse runs the
    data shuffle exactly once; the driver runs ONE collect of exactly the
    final histogram.
    """
    from pyspark.sql import Window

    keys = keys or []
    # histogram WITHOUT cell_histogram's quadkey-null filter: on a freshly
    # enriched input that filter references the parse UDF's output, and
    # Catalyst pushes it below the projection — splitting the enrichment
    # into TWO ArrowEvalPython nodes so every WKT parses twice. NULL-cell
    # rows instead ride the (tiny) collected histogram as one extra group
    # and are dropped driver-side below — same rows out, one parse pass.
    a = (
        df.groupBy(
            *keys, F.substring("quadkey", 1, MAX_LEVEL).alias("qk12")
        )
        .agg(F.count("*").alias("n"))
        .withColumn("qk", F.substring("qk12", 1, coarse_level))
        .withColumn(
            "nc",
            F.sum("n").over(Window.partitionBy(*keys, "qk")),
        )
    )
    under = (
        a.filter(F.col("nc") <= max_per_file)
        .select(*keys, "qk", F.col("nc").alias("n"))
        .distinct()
    )
    over = a.filter(F.col("nc") > max_per_file).select(
        *keys, F.col("qk12").alias("qk"), "n"
    )
    hist = under.unionByName(over).toPandas()
    # the NULL-quadkey group (parse-degraded rows that survived an
    # upstream filter) cannot be routed to any cell — drop it here,
    # exactly like cell_histogram's Spark-side filter
    if len(hist):
        hist = hist[hist["qk"].notna()].reset_index(drop=True)
    return hist, len(hist)


def partition_plan(
    df: DataFrame, max_per_file: int, keys: list[str] | None = None
) -> DataFrame:
    """Leaf-cell plan: (keys..., cell, n_rows) with reference split semantics.

    One data shuffle computes the histogram (hierarchically collected, see
    :func:`hier_histogram`); the recursion itself runs driver-side in
    pandas (like the reference's driver-side loop, but on the histogram
    instead of per-cell COUNT queries). A cell is a LEAF iff its count <=
    max_per_file and every ancestor is over the cap (or level 1); over-cap
    level-12 cells become leaves (cap).

    The recursion never needs sub-coarse detail for under-cap coarse cells
    (an under-cap node is a leaf at or above the coarse level), which is
    exactly what hier_histogram omits.
    """
    keys = keys or []
    spark = df.sparkSession
    hist, _ = hier_histogram(df, max_per_file, keys)
    if keys and hist[keys].isna().any().any():
        # Spark's groupBy KEEPS null key groups, so the collected histogram
        # surfaces them for free — but pandas' groupby below would drop
        # them and tag_cells' inner join would then silently lose every
        # such row from the written table; refuse instead
        raise ValueError(
            f"partition keys {keys} contain NULL values; fill or filter "
            "them first (rows with null keys cannot be routed to a "
            "partition and would be silently dropped)"
        )

    import numpy as np

    out_rows: list[tuple] = []
    for key_vals, grp in (
        hist.groupby(keys, sort=False) if keys else [((), hist)]
    ):
        if keys and not isinstance(key_vals, tuple):
            key_vals = (key_vals,)
        order = np.argsort(grp["qk"].to_numpy())
        cells = grp["qk"].to_numpy()[order]
        counts = grp["n"].to_numpy()[order]
        csum = np.concatenate([[0], np.cumsum(counts)])

        def node_count(prefix: str) -> int:
            # cells with this prefix form a contiguous range in sorted order
            lo = np.searchsorted(cells, prefix)
            hi = np.searchsorted(cells, prefix + "\x7f")
            return int(csum[hi] - csum[lo]), lo, hi

        stack = [""]
        while stack:
            prefix = stack.pop()
            lvl = len(prefix)
            n, lo, hi = node_count(prefix)
            if n == 0:
                continue
            if (n <= max_per_file and lvl >= 1) or lvl >= MAX_LEVEL:
                out_rows.append((*key_vals, prefix, n))
                continue
            children = np.unique(
                np.frompyfunc(lambda s: s[: lvl + 1], 1, 1)(cells[lo:hi])
            )
            stack.extend(children[::-1].tolist())
    schema = (
        ", ".join(f"{k} string" for k in keys) + (", " if keys else "")
    ) + "cell string, n_rows long"
    return spark.createDataFrame(out_rows, schema)


def tag_cells(
    df: DataFrame, plan: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Tag each row with its leaf cell via a broadcast HASH equi-join.

    Leaf cells live at quadkey prefix levels 1..MAX_LEVEL, so each row is
    exploded into its <=12 ancestor prefixes and inner-joined against the
    (broadcast) plan on ``prefix = cell`` plus key equality. Leaves are
    prefix-disjoint within a key group, so each covered row matches exactly
    one plan entry; rows whose cells are absent from ``plan`` (e.g. already
    committed on resume) simply drop out.

    Scale: plan size affects only the broadcast hash table — never codegen
    (the old path chained one ``startswith``/``when`` branch per cell, which
    blows up Catalyst at ~10^5 planet-scale leaves) and never a nested-loop
    probe (O(rows x cells) compares). Probe cost is O(12 x rows) hash lookups.
    Extra plan columns (e.g. ``n_rows``) pass through onto each tagged row.
    """
    keys = keys or []
    prefixes = F.array_distinct(
        F.expr(
            f"transform(sequence(1, {MAX_LEVEL}), l -> substring(quadkey, 1, l))"
        )
    )
    exploded = df.withColumn("cell", F.explode(prefixes))
    return exploded.join(F.broadcast(plan), on=[*keys, "cell"], how="inner")

