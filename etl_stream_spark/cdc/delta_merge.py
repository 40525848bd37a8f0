"""CDC MERGE on Delta Lake storage — the transactional production form
of :class:`~etl_stream_spark.cdc.merge.ParquetMergeTable`.

Same three-clause semantics as the reference's warehouse MERGE
(``etl-snowflake-py/etl_snowflake/task.py:154-190``) plus the
stale-sequence guard, expressed as ``DeltaTable.merge`` so the commit is
table-atomic (the property the parquet engine documents as its one
weakening). The public API matches ``ParquetMergeTable`` exactly —
``exists/read/truncate/merge`` — so the two swap by constructor alone;
pipelines, rollups, and tests are storage-agnostic.

The delta-spark package is a public artifact (``io.delta:delta-spark``)
not present in this sandbox, so the class import-gates at *construction*
and the clause-building logic lives in pure functions that tests
exercise without the jar:

* match condition: PK null-safe equality;
* update/delete clauses conditioned on ``b.sequence > t._seq`` (the
  stale guard — out-of-order replays lose);
* inserts only for non-DELETE source rows.

At 100 TB Delta's MERGE does the same pruning this engine's bucket
layout does by hand: file-skipping on PK min/max stats (plus Z-order on
the key) limits the read, and the transaction log confines the rewrite
to touched files.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from etl_stream_spark.cdc.dedup import last_writer_wins
from etl_stream_spark.cdc.envelope import (
    OP_DELETE,
    OPERATION_COL,
    SEQUENCE_COL,
    TIMESTAMP_COL,
)
from etl_stream_spark.cdc.merge import DELETED_COL, SEQ_STATE_COL

#: Public Maven coordinate for spark-submit --packages.
DELTA_PACKAGE = "io.delta:delta-spark_2.13"


def merge_condition(keys: Sequence[str]) -> str:
    """PK match condition (null-safe, matching the parquet engine)."""
    return " AND ".join(f"t.{k} <=> b.{k}" for k in keys)


def _stored_tie_sql(col_exprs: Sequence[str], seq: str, deleted: str) -> str:
    """SQL form of :func:`~etl_stream_spark.cdc.merge.stored_shape_tie_break`
    for one MERGE alias: md5 over the stored-value expressions (callers
    pass them in sorted column-name order), the sequence, and the delete
    flag — byte-identical to the parquet engine's DataFrame expression
    (char(31)/char(0) are the same separator/sentinel bytes), so the two
    storage forms install the same survivor on a same-(key, sequence)
    collision."""
    parts = [f"coalesce(cast({e} as string), char(0))" for e in col_exprs]
    parts.append(f"coalesce(cast({seq} as string), char(0))")
    parts.append(f"cast(coalesce({deleted}, false) as string)")
    return f"md5(concat_ws(char(31), {', '.join(parts)}))"


def newer_sequence_condition(
    data_cols: Sequence[str] | None = None,
    tombstone: bool = False,
    target_cols: Sequence[str] | None = None,
) -> str:
    """Stale guard: a matched source row wins with a newer sequence —
    or, given ``data_cols``, on an EQUAL sequence when its stored-shape
    tie hash is higher (the parquet engine's unified tie-break; without
    ``data_cols`` the legacy strictly-newer form is returned).

    ``target_cols`` (the live target's data columns) widens the hashed
    column set to the UNION of target and batch schemas with the same
    stored-value fill the parquet engine's fold applies
    (``ParquetMergeTable._fold``): a column absent from the batch keeps
    the target's value on update and goes NULL on a winning delete; a
    column absent from the target is NULL on the target side. This twin
    still picks the WITHIN-batch winner of a narrow batch by hashing the
    batch's own columns only (the old within-batch tie), so on a
    same-(key, sequence) collision carried by a narrow batch its
    survivor can depend on the batch cut; the parquet fold's cannot. Without it (tests of the pure clause
    builders, same-schema batches) both aliases hash the batch columns
    — correct ONLY when batch schema == target schema, which ``merge``
    guarantees by always passing the live schema."""
    newer = f"b.{SEQUENCE_COL} > t.{SEQ_STATE_COL}"
    if data_cols is None:
        return newer
    t_del = f"t.{DELETED_COL}" if tombstone else "false"
    b_del = f"b.{OPERATION_COL} = '{OP_DELETE}'"
    t_set = set(target_cols) if target_cols is not None else set(data_cols)
    b_set = set(data_cols)
    t_exprs, b_exprs = [], []
    for c in sorted(t_set | b_set):
        t_expr = f"t.{c}" if c in t_set else "null"
        t_exprs.append(t_expr)
        if c in b_set:
            b_exprs.append(f"b.{c}")
        else:
            # keeps-target fill on update, typed-NULL scrub on a winning
            # delete — the parquet engine's fold fills the same way
            b_exprs.append(f"(CASE WHEN {b_del} THEN null ELSE {t_expr} END)")
    tie_t = _stored_tie_sql(t_exprs, f"t.{SEQ_STATE_COL}", t_del)
    tie_b = _stored_tie_sql(b_exprs, f"b.{SEQUENCE_COL}", b_del)
    return (
        f"({newer} OR (b.{SEQUENCE_COL} = t.{SEQ_STATE_COL} "
        f"AND {tie_b} > {tie_t}))"
    )


def delete_condition(
    data_cols: Sequence[str] | None = None,
    target_cols: Sequence[str] | None = None,
) -> str:
    guard = newer_sequence_condition(data_cols, target_cols=target_cols)
    return f"b.{OPERATION_COL} = '{OP_DELETE}' AND {guard}"


def update_condition(
    data_cols: Sequence[str] | None = None,
    target_cols: Sequence[str] | None = None,
) -> str:
    guard = newer_sequence_condition(data_cols, target_cols=target_cols)
    return f"b.{OPERATION_COL} <> '{OP_DELETE}' AND {guard}"


def insert_condition() -> str:
    return f"b.{OPERATION_COL} <> '{OP_DELETE}'"


def column_assignments(data_cols: Sequence[str]) -> dict[str, str]:
    """SET map for update/insert: data columns plus the persisted
    sequence state (``_seq`` ← source sequence)."""
    out = {c: f"b.{c}" for c in data_cols}
    out[SEQ_STATE_COL] = f"b.{SEQUENCE_COL}"
    return out


def tombstone_assignments(
    data_cols: Sequence[str], target_cols: Sequence[str] | None = None
) -> dict[str, str]:
    """SET map for tombstone mode: deletes become ``_deleted = true``
    updates/inserts instead of physical removals, so the key keeps its
    sequence state and stale replays (quarantine repair, DLQ
    resubmission) cannot re-insert it — parity with
    ``ParquetMergeTable(tombstone_deletes=True)``.

    ``target_cols`` adds the typed-NULL scrub for target-only columns on
    a winning delete (retention: the pre-image must not linger on the
    tombstone) — the same stored outcome the widened tie hash in
    :func:`newer_sequence_condition` promises, and the parquet engine's
    ``pick()`` installs."""
    out = column_assignments(data_cols)
    if target_cols is not None:
        for c in set(target_cols) - set(data_cols):
            out[c] = f"CASE WHEN b.{OPERATION_COL} = '{OP_DELETE}' THEN null ELSE t.{c} END"
    out[DELETED_COL] = f"b.{OPERATION_COL} = '{OP_DELETE}'"
    return out


class DeltaMergeTable:
    """Drop-in Delta twin of :class:`ParquetMergeTable` (K2/K3)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        num_buckets: int = 32,  # accepted for constructor parity; Delta
        # file-skipping replaces manual bucketing
        tombstone_deletes: bool = False,
        merge_on_read: bool = False,  # parity; on Delta the equivalent
        # write-optimized path is deletion vectors + OPTIMIZE — the
        # transactional MERGE below is already log-scoped per commit
        compact_threshold: int = 8,
    ) -> None:
        try:
            from delta.tables import DeltaTable  # noqa: F401
        except ImportError as e:
            raise RuntimeError(
                "delta-spark not installed; submit with "
                f"--packages {DELTA_PACKAGE}:<delta-version> and "
                "spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension"
            ) from e
        if not keys:
            raise ValueError("DeltaMergeTable requires at least one key column")
        self.spark = spark
        self.path = path.rstrip("/")
        self.keys = list(keys)
        self.num_buckets = num_buckets
        self.tombstone_deletes = tombstone_deletes

    def exists(self) -> bool:
        from delta.tables import DeltaTable

        return DeltaTable.isDeltaTable(self.spark, self.path)

    def read(self) -> DataFrame:
        from pyspark.sql import functions as F

        if not self.exists():
            return self.spark.createDataFrame([], "struct<>")
        df = self.spark.read.format("delta").load(self.path).drop(SEQ_STATE_COL)
        if DELETED_COL in df.columns:
            df = df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False))).drop(
                DELETED_COL
            )
        return df

    def truncate(self) -> None:
        if self.exists():
            from delta.tables import DeltaTable

            DeltaTable.forPath(self.spark, self.path).delete()

    def _ensure_tombstone_column(self) -> None:
        """Add a nullable boolean ``_deleted`` to a pre-tombstone table
        (no-op when present). NULL reads as not-deleted, so existing
        rows keep their semantics — parity with the parquet engine.
        The check is cached: a Delta snapshot load per micro-batch just
        to re-verify a column that can only be added once would tax the
        hot streaming path (per-batch job-count rule)."""
        if getattr(self, "_tombstone_col_ensured", False):
            return
        cols = self.spark.read.format("delta").load(self.path).columns
        if DELETED_COL not in cols:
            self.spark.sql(
                f"ALTER TABLE delta.`{self.path}` "
                f"ADD COLUMNS ({DELETED_COL} boolean)"
            )
        self._tombstone_col_ensured = True

    def merge(self, batch: DataFrame) -> None:
        from delta.tables import DeltaTable
        from pyspark.sql import functions as F

        from etl_stream_spark.cdc.merge import _META_COLS, stored_shape_tie_break

        # within-batch winners picked by the SHARED stored-shape
        # tie-break over the batch's own columns (parity with the
        # parquet fold whenever the batch is full-width)
        batch_data = sorted(c for c in batch.columns if c not in _META_COLS)
        tie = stored_shape_tie_break(
            [F.col(c) for c in batch_data],
            F.col(SEQUENCE_COL),
            F.col(OPERATION_COL) == OP_DELETE,
        )
        deduped = last_writer_wins(
            batch, self.keys, SEQUENCE_COL, tie_break=tie
        ).drop(TIMESTAMP_COL)
        data_cols = [
            c for c in deduped.columns if c not in (OPERATION_COL, SEQUENCE_COL)
        ]
        if not self.exists():
            initial = deduped
            if self.tombstone_deletes:
                initial = initial.withColumn(
                    DELETED_COL, F.col(OPERATION_COL) == OP_DELETE
                )
            else:
                initial = initial.filter(F.col(OPERATION_COL) != OP_DELETE)
            initial = initial.withColumnRenamed(SEQUENCE_COL, SEQ_STATE_COL).drop(
                OPERATION_COL
            )
            initial.write.format("delta").save(self.path)
            return
        # the live target's data columns: the tie hash (and tombstone
        # scrub) must cover the UNION of target+batch schemas with the
        # parquet engine's stored-value fill, or a narrower batch could
        # install a different equal-sequence survivor than the eager
        # engine (and t.<col> for a batch-only column would fail MERGE
        # analysis on a narrower target)
        target_cols = [
            c
            for c in self.spark.read.format("delta").load(self.path).columns
            if c not in _META_COLS
        ]
        if self.tombstone_deletes:
            # Tables created before the tombstone flag lack _deleted, and
            # Delta MERGE rejects SET on unknown columns unless schema
            # autoMerge is on — evolve first so the twin matches
            # ParquetMergeTable's transparent handling of pre-tombstone
            # files (NULL _deleted → row kept).
            self._ensure_tombstone_column()
            # deletes are `_deleted = true` updates/inserts — the key and
            # its sequence state survive so stale replays lose
            (
                DeltaTable.forPath(self.spark, self.path)
                .alias("t")
                .merge(deduped.alias("b"), merge_condition(self.keys))
                .whenMatchedUpdate(
                    condition=newer_sequence_condition(
                        data_cols, tombstone=True, target_cols=target_cols
                    ),
                    set=tombstone_assignments(data_cols, target_cols),
                )
                .whenNotMatchedInsert(values=tombstone_assignments(data_cols))
                .execute()
            )
            return
        (
            DeltaTable.forPath(self.spark, self.path)
            .alias("t")
            .merge(deduped.alias("b"), merge_condition(self.keys))
            .whenMatchedDelete(condition=delete_condition(data_cols, target_cols))
            .whenMatchedUpdate(
                condition=update_condition(data_cols, target_cols),
                set=column_assignments(data_cols),
            )
            .whenNotMatchedInsert(
                condition=insert_condition(), values=column_assignments(data_cols)
            )
            .execute()
        )
