"""Mergeable cardinality sketches (KMV / k-minimum-values).

Corpus-prep pipelines need distinct counts everywhere (unique documents
per source, unique users per segment, vocabulary growth) at sizes where
exact ``COUNT(DISTINCT)`` per cell is affordable once but not per
source × day × slice. A KMV sketch keeps only the k smallest hash
values of a set; its k-th smallest value estimates the cardinality as
``(k-1) / kth_min_fraction`` (Bar-Yossef et al., "Counting distinct
elements in a data stream", RANDOM 2002 — the estimator behind
theta/KMV sketches in DataSketches, Druid and friends).

Two properties make it the right shape at 100 TB:

* **mergeable**: the k smallest of a union is computable from the k
  smallest of each part, so per-partition/per-day sketches roll up
  without re-reading data (union = k-min of concatenated sketches);
* **set algebra**: union cardinality comes from the merged sketch and
  intersections via inclusion–exclusion — overlap analytics (shared
  users across segments, shared n-grams across sources) without a
  pairwise join.

Determinism contract: hashes are the repo's engine-portable md5-prefix
integers (13 hex digits = 52 bits — exact in an IEEE double on both
engines, and below DuckDB's BIGINT overflow guard), so a DuckDB oracle
reproduces every estimate bit-for-bit. No randomness, no seeds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: 13 hex digits = 52 bits: exact in a double, safe in a BIGINT.
_KMV_HEX = 13
#: Total hash space for the fraction denominator (16^13 as a float —
#: a power of two, so the double division is exact scaling).
_KMV_SPACE = float(16**_KMV_HEX)


def kmv_hash(col: Column | str) -> Column:
    """Engine-portable 52-bit hash: ``int(md5(cast(x as string))[:13], 16)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, _KMV_HEX), 16, 10).cast(
        "long"
    )


def kmv_estimate(kth_min: Column, n_seen: Column, k: int) -> Column:
    """Cardinality estimate from the k-th minimum hash.

    With fewer than k distinct hashes the sketch is exact (it holds the
    whole set); otherwise ``(k-1) / (kth_min / 16^13)``. Rounded to 4 dp
    at the boundary (a double ratio of exact integers — deterministic
    across engines before rounding).
    """
    frac = kth_min.cast("double") / F.lit(_KMV_SPACE)
    return F.round(
        F.when(n_seen < k, n_seen.cast("double")).otherwise((k - 1) / frac), 4
    )


def kmv_sketch(df: DataFrame, group_cols: list[str], value_col: str, k: int) -> DataFrame:
    """Per-group KMV sketch: the k smallest distinct hashes of
    ``value_col``, plus ``n_seen`` (= min(k, exact distinct)).

    Plan shape: distinct on (group, hash) — one shuffle, partially
    aggregated map-side — then a rank window per group truncated to k.
    The window sorts only survivors of the distinct, and the sketch
    rows leaving the stage are ≤ k per group: downstream merges and
    set operations are driver-light metadata, not data.
    """
    # NULL values never enter the sketch — COUNT(DISTINCT) ignores them,
    # and a NULL hash row would both inflate n_seen and sort opposite
    # ways across engines (Spark asc = NULLS FIRST, DuckDB NULLS LAST)
    hashed = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, kmv_hash(value_col).alias("_h"))
        .distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy(F.col("_h").asc())
    return hashed.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)


def kmv_distinct(
    df: DataFrame, group_cols: list[str], value_col: str, k: int = 256
) -> DataFrame:
    """Per-group distinct-count estimate next to the exact count.

    Output: ``group_cols…, exact_distinct BIGINT, est_distinct DOUBLE,
    rel_err DOUBLE`` — the exact count rides along so the estimate's
    quality is part of the result (and of the oracle check).
    """
    sk = kmv_sketch(df, group_cols, value_col, k)
    agg = sk.groupBy(*group_cols).agg(
        F.max(F.when(F.col("_rn") == k, F.col("_h"))).alias("_kth"),
        F.count(F.lit(1)).alias("_n_seen"),
    )
    exact = (
        df.select(*group_cols, value_col)
        .groupBy(*group_cols)
        .agg(F.countDistinct(value_col).alias("exact_distinct"))
    )
    est = kmv_estimate(F.col("_kth"), F.col("_n_seen"), k)
    # null-safe join: a NULL group key is a legitimate group and must
    # not vanish under plain-equality join semantics
    cond = [agg[c].eqNullSafe(exact[c]) for c in group_cols]
    return (
        agg.join(exact, cond).drop(*[exact[c] for c in group_cols])
        .select(
            *group_cols,
            "exact_distinct",
            est.alias("est_distinct"),
            F.round(
                F.abs(est - F.col("exact_distinct"))
                / F.col("exact_distinct").cast("double"),
                4,
            ).alias("rel_err"),
        )
    )


class KmvSketchStore:
    """Persisted per-group KMV sketches maintained incrementally.

    The operational form of the merge rule: each batch is sketched and
    k-min-merged into the stored sketches, so running distinct counts
    (per source, per day, per slice) stay queryable without ever
    re-reading history — the update cost is O(batch + groups×k)
    regardless of how much data the sketches have absorbed. Use from a
    streaming ``foreachBatch`` or a scheduled batch job.

    Exactness of the merge (not just approximation) is testable: a
    store built from ANY batch split equals the sketch of the full
    data, row for row — md5 hashing makes that deterministic.
    """

    def __init__(
        self, spark, path: str, group_cols: list[str], value_col: str, k: int = 256
    ) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self.k = k

    def _read(self) -> DataFrame | None:
        from pyspark.errors.exceptions.captured import AnalysisException

        try:
            return self.spark.read.parquet(self.path)
        except AnalysisException:
            return None

    def update(self, batch: DataFrame) -> None:
        """Sketch the batch and k-min-merge it into the store."""
        fresh = kmv_sketch(batch, self.group_cols, self.value_col, self.k).select(
            *self.group_cols, "_h"
        )
        stored = self._read()
        merged = (
            fresh
            if stored is None
            else stored.select(*self.group_cols, "_h").unionByName(fresh).distinct()
        )
        w = Window.partitionBy(*self.group_cols).orderBy(F.col("_h").asc())
        # localCheckpoint, not persist: the write overwrites its own
        # input path, and a cache-evicted partition would recompute from
        # lineage against deleted files — checkpointing truncates the
        # lineage so the materialized rows are the only source
        out = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= self.k)
            .localCheckpoint(eager=True)
        )
        out.write.mode("overwrite").parquet(self.path)

    def estimates(self) -> DataFrame:
        """Per-group distinct-count estimates from the stored sketches."""
        stored = self._read()
        if stored is None:
            return self.spark.createDataFrame([], "struct<>")
        agg = stored.groupBy(*self.group_cols).agg(
            F.max(F.when(F.col("_rn") == self.k, F.col("_h"))).alias("_kth"),
            F.count(F.lit(1)).alias("_n_seen"),
        )
        return agg.select(
            *self.group_cols,
            kmv_estimate(F.col("_kth"), F.col("_n_seen"), self.k).alias(
                "est_distinct"
            ),
        )


def kmv_union_overlap(
    df: DataFrame,
    group_col: str,
    value_col: str,
    pairs: list[tuple[str, str]],
    k: int = 256,
) -> DataFrame:
    """Pairwise overlap estimates between groups, from sketches alone.

    For each (a, b) pair: union cardinality from the MERGED sketch (the
    k smallest of the two sketches' union — the KMV merge rule) and
    intersection via inclusion–exclusion. Exact values ride along.
    Everything after the two sketch scans operates on ≤ 2k rows per
    pair — this is the sketch's 100 TB win: overlap analytics without
    a pairwise self-join of the data.
    """
    sk = kmv_sketch(df, [group_col], value_col, k)
    singles = sk.groupBy(group_col).agg(
        F.max(F.when(F.col("_rn") == k, F.col("_h"))).alias("_kth"),
        F.count(F.lit(1)).alias("_n_seen"),
    )
    pairs_df = F.broadcast(
        df.sparkSession.createDataFrame(pairs, ["group_a", "group_b"])
    )
    # Merge rule: the union's sketch is the k smallest of the two
    # sketches' (deduplicated) hash union — computed for all pairs in
    # one windowed pass partitioned by the pair.
    merged_h = (
        pairs_df.join(
            sk,
            (F.col(group_col) == F.col("group_a"))
            | (F.col(group_col) == F.col("group_b")),
        )
        .select("group_a", "group_b", "_h")
        .distinct()
    )
    w = Window.partitionBy("group_a", "group_b").orderBy(F.col("_h").asc())
    usk = (
        merged_h.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .groupBy("group_a", "group_b")
        .agg(
            F.max(F.when(F.col("_rn") == k, F.col("_h"))).alias("_kth"),
            F.count(F.lit(1)).alias("_n_seen"),
        )
        .select(
            "group_a",
            "group_b",
            kmv_estimate(F.col("_kth"), F.col("_n_seen"), k).alias("est_union"),
        )
    )
    ea = singles.select(
        F.col(group_col).alias("group_a"),
        kmv_estimate(F.col("_kth"), F.col("_n_seen"), k).alias("est_a"),
    )
    eb = singles.select(
        F.col(group_col).alias("group_b"),
        kmv_estimate(F.col("_kth"), F.col("_n_seen"), k).alias("est_b"),
    )
    return (
        usk.join(ea, "group_a")
        .join(eb, "group_b")
        .select(
            "group_a",
            "group_b",
            "est_union",
            F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 4).alias(
                "est_intersection"
            ),
        )
    )
